"""Minimal REAL baseline JPEG codec — pure NumPy + stdlib.

Closes the last stubbed image codec in the multimodal plumbing
(operators/multimodal.py): PNG (imgcodec.py) and WAV (wavcodec.py) were
already real; this adds JFIF baseline sequential DCT, 8-bit.

Encoder: 4:4:4 (or grayscale), fixed quantization tables, per-image
canonical Huffman tables — all tables are EMBEDDED in the stream
(DQT/DHT), so the decoder needs no spec constants beyond the marker
layout and the zigzag order (computed programmatically below).

Decoder: baseline sequential AND progressive (SOF2) DCT, 1- or
3-component, arbitrary sampling factors up to 2x2 (covers 4:4:4 /
4:2:2 / 4:2:0), restart markers, 0xFF00 byte stuffing. Progressive
covers the full T.81 §G Huffman feature set real web JPEGs use:
spectral selection, successive approximation (DC + AC first and
refinement scans, EOB runs, ZRL-with-correction-bits). 12-bit
precision decodes for grayscale AND color, sequential AND progressive
frames (SOF1/SOF2, 16-bit DQT, 2048 level shift / chroma center — the
scanned-archive shapes), scaled to the 8-bit pipeline output.
Huffman LOSSLESS (SOF3, all seven T.81 H.1 predictors, mod-2^16
differences, direct-RGB 3-component) decodes bit-exactly.
Arithmetic / differential / hierarchical streams raise
NotImplementedError for a real library drop-in.

encode_jpeg_progressive mirrors libjpeg's default progression shape
(DC at Al=1 + refinement; per-component AC band scans at Al=2 + two
refinement passes) so the committed fixtures exercise every decode
path; with all scans applied the reconstructed coefficients equal the
baseline encoder's exactly, so progressive-decode output is BITWISE
equal to baseline-decode output for the same image.

Entropy decoding is table-driven, as in libjpeg's jdhuff: each DHT
table carries a 9-bit lookahead table of (length, value), and
_HuffTable.decode peeks 9 bits (_BitReader.peek/skip) and resolves the
code in one lookup. Only codes longer than 9 bits, or a peek cut short
by an RST marker, walk the canonical bit loop. Baseline scans gather
zigzag coefficients into per-component Python lists; baseline and
progressive frames then share one dequantise + IDCT (_reconstruct, a
batched matmul per component).

JPEG is lossy: round-trip tests assert PSNR, not byte equality; decode
itself is deterministic (tests/test_codec_pixel_pins.py pins the
decoded pixels).
"""

from __future__ import annotations

import struct

import numpy as np

# ---------------------------------------------------------------- shared

def _zigzag() -> np.ndarray:
    """The JPEG zigzag scan order as flat indices into an 8x8 block:
    anti-diagonal s=i+j, odd s traversed i-ascending, even s
    i-descending."""
    order = []
    for s in range(15):
        ij = [(i, s - i) for i in range(8) if 0 <= s - i < 8]
        order.extend(sorted(ij, reverse=(s % 2 == 0)))
    return np.array([i * 8 + j for i, j in order], dtype=np.int64)


ZIGZAG = _zigzag()
UNZIGZAG = np.argsort(ZIGZAG)

_T = np.zeros((8, 8))
for _u in range(8):
    for _x in range(8):
        _a = np.sqrt(0.5) if _u == 0 else 1.0
        _T[_u, _x] = 0.5 * _a * np.cos((2 * _x + 1) * _u * np.pi / 16)
DCT_M = _T  # orthonormal 2D DCT: F = M @ b @ M.T ; b = M.T @ F @ M

# encoder quant tables: flat-ish quality (fixture use, PSNR-tested)
Q_LUMA = np.clip(np.add.outer(np.arange(8), np.arange(8)) * 2 + 8, 8, 40) \
    .astype(np.int64)
Q_CHROMA = np.clip(np.add.outer(np.arange(8), np.arange(8)) * 3 + 12, 12, 60) \
    .astype(np.int64)


def is_jpeg(data: bytes) -> bool:
    return data[:3] == b"\xff\xd8\xff"


def _rgb_to_ycbcr(rgb: np.ndarray) -> np.ndarray:
    r, g, b = [rgb[..., i].astype(np.float64) for i in range(3)]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    return np.stack([y, cb, cr], axis=-1)


def _ycbcr_to_rgb(ycc: np.ndarray, prec: int = 8) -> np.ndarray:
    """YCbCr planes (at the frame's precision: chroma centered at
    2^(prec-1)) → 8-bit RGB; >8-bit frames scale down to the
    pipeline's 8-bit output after conversion."""
    center = float(1 << (prec - 1))
    top = float((1 << prec) - 1)
    y, cb, cr = ycc[..., 0], ycc[..., 1] - center, ycc[..., 2] - center
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    rgb = np.clip(np.stack([r, g, b], axis=-1), 0, top)
    if prec > 8:
        rgb = rgb * (255.0 / top)
    return rgb.round().astype(np.uint8)


# ---------------------------------------------------------------- encoder

class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, length: int):
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            self.n -= 8
            byte = (self.acc >> self.n) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)  # byte stuffing

    def flush(self):
        if self.n:
            self.write(0x7F, 8 - self.n)  # pad with 1s per spec


def _category(v: int) -> int:
    return 0 if v == 0 else int(abs(v)).bit_length()


def _canonical_table(symbols: list[int]):
    """Fixed-length canonical Huffman over the USED symbol set: every
    symbol gets length L = ceil(log2(n+1)) (the +1 keeps the all-ones
    code unused, which some decoders treat as reserved). Valid prefix
    code, embedded in DHT, decoded canonically — no Annex K needed."""
    syms = sorted(set(symbols))
    L = max(int(np.ceil(np.log2(len(syms) + 1))), 1)
    bits = [0] * 17
    bits[L] = len(syms)
    codes = {s: (i, L) for i, s in enumerate(syms)}
    return bits, syms, codes


def _encode_blocks(planes: list[np.ndarray], qtabs: list[np.ndarray]):
    """per-component plane (H,W multiple of 8) → list of per-block
    zigzagged quantized coefficient arrays + symbol streams."""
    comp_blocks = []
    for plane, q in zip(planes, qtabs):
        h, w = plane.shape
        blocks = []
        shifted = plane.astype(np.float64) - 128.0
        for by in range(0, h, 8):
            for bx in range(0, w, 8):
                f = DCT_M @ shifted[by:by + 8, bx:bx + 8] @ DCT_M.T
                qf = np.round(f / q).astype(np.int64)
                blocks.append(qf.flatten()[ZIGZAG])
        comp_blocks.append(blocks)
    return comp_blocks


def _mcu_block_order(hf: int, vf: int,
                     mcux: int, mcuy: int) -> list[tuple[int, int]]:
    """Block (y,x) origins in MCU-interleaved order for a component with
    sampling factors (hf, vf)."""
    order = []
    for my in range(mcuy):
        for mx in range(mcux):
            for by in range(vf):
                for bx in range(hf):
                    order.append(((my * vf + by) * 8, (mx * hf + bx) * 8))
    return order


def encode_jpeg(img: np.ndarray, subsample: bool = False) -> bytes:
    """HxW (grayscale) or HxWx3 (RGB) uint8 → baseline JFIF bytes
    (4:4:4, or 4:2:0 with subsample=True; fixed quant, per-image
    canonical Huffman tables)."""
    gray = img.ndim == 2
    h, w = img.shape[:2]
    if gray:
        subsample = False
    hf, vf = (2, 2) if subsample else (1, 1)
    align = 8 * max(hf, vf)
    ph, pw = -(-h // align) * align, -(-w // align) * align

    if gray:
        planes = [np.pad(img, ((0, ph - h), (0, pw - w)), mode="edge")]
        qtabs = [Q_LUMA]
        qids = [0]
        samp = [(1, 1)]
    else:
        ycc = _rgb_to_ycbcr(img)
        planes = [np.pad(ycc[..., i], ((0, ph - h), (0, pw - w)),
                         mode="edge") for i in range(3)]
        if subsample:
            # chroma = mean of each 2x2 (the standard 4:2:0 downsample)
            for i in (1, 2):
                p = planes[i]
                planes[i] = p.reshape(p.shape[0] // 2, 2,
                                      p.shape[1] // 2, 2).mean(axis=(1, 3))
        qtabs = [Q_LUMA, Q_CHROMA, Q_CHROMA]
        qids = [0, 1, 1]
        samp = [(hf, vf), (1, 1), (1, 1)]

    comp_blocks = _encode_blocks(planes, qtabs)
    # reorder each component's raster blocks into MCU-interleaved order
    mcux, mcuy = pw // align, ph // align
    for ci, plane in enumerate(planes):
        cf_h, cf_v = samp[ci]
        n_cols = plane.shape[1] // 8
        order = _mcu_block_order(cf_h, cf_v, mcux, mcuy)
        raster = comp_blocks[ci]
        comp_blocks[ci] = [raster[(y // 8) * n_cols + (x // 8)]
                           for y, x in order]
    n_mcus = mcux * mcuy

    # gather symbols for the two table classes (luma = comp 0, chroma = rest)
    def _symbols(comps):
        dc_syms, ac_syms = [], []
        for ci in comps:
            prev = 0
            for blk in comp_blocks[ci]:
                dc_syms.append(_category(int(blk[0]) - prev))
                prev = int(blk[0])
                run = 0
                for v in blk[1:]:
                    if v == 0:
                        run += 1
                        continue
                    while run > 15:
                        ac_syms.append(0xF0)
                        run -= 16
                    ac_syms.append((run << 4) | _category(int(v)))
                    run = 0
                if run:
                    ac_syms.append(0x00)
        return dc_syms or [0], ac_syms or [0]

    groups = [[0], list(range(1, len(planes)))] if not gray else [[0]]
    tables = {}
    for tid, comps in enumerate(groups):
        dc_syms, ac_syms = _symbols(comps)
        tables[(0, tid)] = _canonical_table(dc_syms)
        tables[(1, tid)] = _canonical_table(ac_syms)

    out = bytearray(b"\xff\xd8")  # SOI
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00" \
        + struct.pack(">HH", 1, 1) + b"\x00\x00"
    for qid, q in enumerate(qtabs[:2] if not gray else qtabs[:1]):
        zz = q.flatten()[ZIGZAG].astype(np.uint8).tobytes()
        out += b"\xff\xdb" + struct.pack(">H", 67) + bytes([qid]) + zz
    # SOF0
    ncomp = 1 if gray else 3
    out += b"\xff\xc0" + struct.pack(">HBHHB", 8 + 3 * ncomp, 8, h, w, ncomp)
    for ci in range(ncomp):
        sh, sv = samp[ci]
        out += bytes([ci + 1, (sh << 4) | sv, qids[ci]])
    # DHT
    for (cls, tid), (bits, syms, _) in sorted(tables.items()):
        payload = bytes([(cls << 4) | tid]) + bytes(bits[1:17]) + bytes(syms)
        out += b"\xff\xc4" + struct.pack(">H", 2 + len(payload)) + payload
    # SOS
    out += b"\xff\xda" + struct.pack(">HB", 6 + 2 * ncomp, ncomp)
    comp_tid = [0] + [min(1, len(groups) - 1)] * 2
    for ci in range(ncomp):
        tid = comp_tid[ci]
        out += bytes([ci + 1, (tid << 4) | tid])
    out += b"\x00\x3f\x00"

    bw = _BitWriter()
    prevs = [0] * ncomp
    bpm = [sh * sv for sh, sv in samp]  # blocks per MCU per component
    for m in range(n_mcus):
        for ci in range(ncomp):
            tid = comp_tid[ci]
            _, _, dc_codes = tables[(0, tid)]
            _, _, ac_codes = tables[(1, tid)]
            for k in range(bpm[ci]):
                blk = comp_blocks[ci][m * bpm[ci] + k]
                diff = int(blk[0]) - prevs[ci]
                prevs[ci] = int(blk[0])
                cat = _category(diff)
                code, L = dc_codes[cat]
                bw.write(code, L)
                if cat:
                    mag = diff if diff > 0 else diff + (1 << cat) - 1
                    bw.write(mag, cat)
                run = 0
                for v in blk[1:]:
                    v = int(v)
                    if v == 0:
                        run += 1
                        continue
                    while run > 15:
                        code, L = ac_codes[0xF0]
                        bw.write(code, L)
                        run -= 16
                    cat = _category(v)
                    code, L = ac_codes[(run << 4) | cat]
                    bw.write(code, L)
                    mag = v if v > 0 else v + (1 << cat) - 1
                    bw.write(mag, cat)
                    run = 0
                if run:
                    code, L = ac_codes[0x00]
                    bw.write(code, L)
    bw.flush()
    out += bw.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# ---------------------------------------------------------------- decoder

class _BitReader:
    """MSB-first reader over one entropy-coded segment: unstuffs 0xFF00,
    stops filling at an RSTn marker (the caller realigns), pads with
    1-bits at any other marker or past the end. Buffers at most 32
    bits; peek/skip serve the Huffman lookahead."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.n = 0

    def _fill(self):
        data, pos, acc, n = self.data, self.pos, self.acc, self.n
        end = len(data)
        while n <= 24:
            if pos >= end:
                b = 0xFF  # pad past end
            else:
                b = data[pos]
                if b == 0xFF:
                    nxt = data[pos + 1] if pos + 1 < end else 0xD9
                    if nxt == 0x00:
                        pos += 2
                    elif 0xD0 <= nxt <= 0xD7:
                        break  # restart marker: caller handles
                    # any other marker: pad, stay put
                else:
                    pos += 1
            acc = ((acc << 8) | b) & 0xFFFFFFFF
            n += 8
        self.pos, self.acc, self.n = pos, acc, n

    def peek(self, length: int) -> int | None:
        """The next `length` bits, not consumed; None when fewer are
        buffered (an RST marker cut the fill short)."""
        if self.n < length:
            self._fill()
            if self.n < length:
                return None
        return (self.acc >> (self.n - length)) & ((1 << length) - 1)

    def skip(self, length: int) -> None:
        self.n -= length

    def read(self, length: int) -> int:
        if self.n < length:
            self._fill()
            if self.n < length:
                # _fill stopped at a restart marker with too few bits
                # buffered — a truncated/malformed entropy-coded segment.
                raise ValueError("truncated entropy-coded segment")
        self.n -= length
        return (self.acc >> self.n) & ((1 << length) - 1)

    def align_restart(self):
        """Skip to just past the next RSTn marker, dropping buffered bits."""
        self.acc = 0
        self.n = 0
        while self.pos + 1 < len(self.data):
            if self.data[self.pos] == 0xFF and 0xD0 <= self.data[self.pos + 1] <= 0xD7:
                self.pos += 2
                return
            self.pos += 1


_LOOKAHEAD = 9  # libjpeg jdhuff's HUFF_LOOKAHEAD


class _HuffTable:
    def __init__(self, bits: list[int], values: bytes):
        self.maxcode = [-1] * 17
        self.mincode = [0] * 17
        self.valptr = [0] * 17
        code = 0
        k = 0
        overfull = False
        for L in range(1, 17):
            if bits[L]:
                self.valptr[L] = k
                self.mincode[L] = code
                code += bits[L]
                k += bits[L]
                self.maxcode[L] = code - 1
                overfull |= code > 1 << L
            code <<= 1
        self.values = values
        # every 9-bit string a code of ≤ 9 bits prefixes → length << 8
        # | value; 0 sends decode to the bit loop. An overfull (not
        # prefix-free) table gets no lookahead, so the bit loop keeps
        # deciding what such a table decodes to.
        self.lookup = [0] * (1 << _LOOKAHEAD)
        for L in range(1, _LOOKAHEAD + 1 if not overfull else 1):
            span = 1 << (_LOOKAHEAD - L)
            for j in range(bits[L]):
                if self.valptr[L] + j < len(values):
                    lo = (self.mincode[L] + j) * span
                    self.lookup[lo:lo + span] = \
                        [(L << 8) | values[self.valptr[L] + j]] * span

    def decode(self, br: _BitReader) -> int:
        look = br.peek(_LOOKAHEAD)
        if look is not None:
            hit = self.lookup[look]
            if hit:
                br.skip(hit >> 8)
                return hit & 0xFF
        # a code longer than 9 bits, or fewer than 9 bits buffered
        code = br.read(1)
        for L in range(1, 17):
            if self.maxcode[L] >= 0 and code <= self.maxcode[L]:
                return self.values[self.valptr[L] + code - self.mincode[L]]
            code = (code << 1) | br.read(1)
        raise ValueError("bad Huffman code")


def _extend(v: int, cat: int) -> int:
    return v if v >= (1 << (cat - 1)) else v - (1 << cat) + 1


def decode_jpeg(data: bytes) -> np.ndarray:
    """Baseline or progressive JFIF bytes → HxWx3 uint8 RGB (grayscale
    replicated)."""
    if not is_jpeg(data):
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qtabs: dict[int, np.ndarray] = {}
    htabs: dict[tuple[int, int], _HuffTable] = {}
    frame = None
    restart_interval = 0
    coefs: list[np.ndarray] | None = None  # progressive accumulator
    while pos < len(data):
        if data[pos] != 0xFF:
            pos += 1
            continue
        marker = data[pos + 1]
        if marker in (0x00, 0xFF):  # stuffed byte / fill: not a marker
            pos += 1
            continue
        pos += 2
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue
        if marker == 0xD9:
            break
        (seglen,) = struct.unpack(">H", data[pos:pos + 2])
        body = data[pos + 2: pos + seglen]
        if marker == 0xDB:  # DQT
            off = 0
            while off < len(body):
                pq, tq = body[off] >> 4, body[off] & 0xF
                if pq:  # 16-bit entries (12-bit-precision frames)
                    flat = np.frombuffer(
                        body[off + 1: off + 129],
                        ">u2").astype(np.int64)
                    step = 129
                else:
                    flat = np.frombuffer(body[off + 1: off + 65],
                                         np.uint8).astype(np.int64)
                    step = 65
                q = np.zeros(64, np.int64)
                q[ZIGZAG] = flat
                qtabs[tq] = q.reshape(8, 8)
                off += step
        elif marker == 0xC4:  # DHT
            off = 0
            while off < len(body):
                cls, tid = body[off] >> 4, body[off] & 0xF
                bits = [0] + list(body[off + 1: off + 17])
                n = sum(bits)
                htabs[(cls, tid)] = _HuffTable(
                    bits, body[off + 17: off + 17 + n])
                off += 17 + n
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 baseline, SOF2 prog.
            prec, h, w, nc = body[0], *struct.unpack(">HH", body[1:5]), body[5]
            if prec not in (8, 12):
                raise NotImplementedError(f"precision {prec}")
            comps = []
            for i in range(nc):
                cid, hv, tq = body[6 + 3 * i: 9 + 3 * i]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 0xF,
                              "tq": tq})
            if h == 0 or w == 0 or h * w > 100_000_000:
                raise ValueError("implausible JPEG dimensions")
            frame = {"h": h, "w": w, "comps": comps, "prec": prec,
                     "progressive": marker == 0xC2}
        elif marker == 0xC3:  # SOF3: huffman lossless
            prec, h, w, nc = body[0], *struct.unpack(">HH", body[1:5]), \
                body[5]
            if not 2 <= prec <= 16:
                raise NotImplementedError(f"lossless precision {prec}")
            comps = []
            for i in range(nc):
                cid, hv, tq = body[6 + 3 * i: 9 + 3 * i]
                if hv != 0x11:
                    raise NotImplementedError(
                        "subsampled lossless JPEG components")
                comps.append({"id": cid, "h": 1, "v": 1, "tq": tq})
            if h == 0 or w == 0 or h * w > 100_000_000:
                raise ValueError("implausible JPEG dimensions")
            frame = {"h": h, "w": w, "comps": comps, "prec": prec,
                     "progressive": False, "lossless": True}
        elif marker in (0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                "arithmetic/differential/hierarchical JPEG; plug a "
                "real image library in")
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", body[:2])
        elif marker == 0xDA:  # SOS → entropy-coded data follows
            if frame is None:
                raise ValueError("SOS before SOF")
            ns = body[0]
            scan = []
            for i in range(ns):
                cs, tt = body[1 + 2 * i], body[2 + 2 * i]
                ci, comp = next(
                    (j, c) for j, c in enumerate(frame["comps"])
                    if c["id"] == cs)
                scan.append((ci, comp, tt >> 4, tt & 0xF))
            if frame.get("lossless"):
                predictor = body[1 + 2 * ns]  # Ss carries the selector
                pt = body[3 + 2 * ns] & 0xF   # Al carries Pt
                return _decode_lossless(
                    data, pos + seglen, frame,
                    [(c, td) for _, c, td, _ in scan], htabs,
                    predictor, pt, restart_interval)
            if not frame["progressive"]:
                return _decode_scan(data, pos + seglen, frame,
                                    [(c, td, ta) for _, c, td, ta in scan],
                                    qtabs, htabs, restart_interval)
            ss, se = body[1 + 2 * ns], body[2 + 2 * ns]
            ahal = body[3 + 2 * ns]
            if coefs is None:
                coefs = _alloc_coefs(frame)
            pos = _decode_prog_scan(
                data, pos + seglen, frame, scan, ss, se,
                ahal >> 4, ahal & 0xF, coefs, htabs, restart_interval)
            continue
        pos += seglen
    if coefs is not None:
        return _reconstruct(frame, frame["comps"], coefs, qtabs)
    raise ValueError("no scan data found")


def _decode_scan(data, pos, frame, scan, qtabs, htabs, restart_interval):
    if len(scan) == 1:
        # T.81 A.2: a single-component scan is NON-interleaved — the MCU
        # is one data unit regardless of the component's declared
        # sampling factors (a grayscale JPEG may legally declare 2x2).
        c, td, ta = scan[0]
        scan = [(dict(c, h=1, v=1), td, ta)]
    comps = [c for c, _, _ in scan]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = -(-frame["w"] // (8 * hmax))
    mcuy = -(-frame["h"] // (8 * vmax))
    # per component: zigzag coefficients of its block grid, flat
    coefs = [[0] * (mcuy * c["v"] * mcux * c["h"] * 64) for c in comps]
    tabs = [(htabs[(0, td)].decode, htabs[(1, ta)].decode)
            for _, td, ta in scan]
    br = _BitReader(data, pos)
    read = br.read
    preds = [0] * len(scan)
    mcu_count = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count and \
                    mcu_count % restart_interval == 0:
                br.align_restart()
                preds = [0] * len(scan)
            mcu_count += 1
            for ci, c in enumerate(comps):
                dc, ac = tabs[ci]
                flat = coefs[ci]
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        base = (((my * c["v"] + by) * mcux + mx) * c["h"]
                                + bx) * 64
                        cat = dc(br)
                        if cat:
                            preds[ci] += _extend(read(cat), cat)
                        flat[base] = preds[ci]
                        k = 1
                        while k < 64:
                            rs = ac(br)
                            r, s = rs >> 4, rs & 0xF
                            if s == 0:
                                if r == 15:
                                    k += 16
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise ValueError("AC index overflow")
                            flat[base + k] = _extend(read(s), s)
                            k += 1
    blocks = [np.array(f, np.float64).reshape(mcuy * c["v"],
                                              mcux * c["h"], 64)
              for f, c in zip(coefs, comps)]
    return _reconstruct(frame, comps, blocks, qtabs)


def _reconstruct(frame, comps, coefs, qtabs) -> np.ndarray:
    """Dequantize + IDCT every block of each component's (rows, cols,
    64) zigzag coefficient grid, upsample to the full grid, crop and
    convert to 8-bit RGB. Baseline and progressive frames both end
    here, so a fully-refined progressive stream reconstructs BITWISE
    identically to its baseline counterpart. The IDCT is one batched
    matmul per component: numpy's matmul runs the same per-matrix
    kernel for a stack as for one 8x8 block (the pixel pins hold)."""
    h, w = frame["h"], frame["w"]
    prec = frame.get("prec", 8)
    shift = float(1 << (prec - 1))
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    full = []
    for c, blocks in zip(comps, coefs):
        qzz = qtabs[c["tq"]].flatten()[ZIGZAG].astype(np.float64)
        nbh, nbw = blocks.shape[:2]
        deq = np.zeros((nbh, nbw, 64), np.float64)
        deq[..., ZIGZAG] = blocks * qzz
        pix = DCT_M.T @ deq.reshape(nbh, nbw, 8, 8) @ DCT_M + shift
        plane = pix.transpose(0, 2, 1, 3).reshape(nbh * 8, nbw * 8)
        ry, rx = vmax // c["v"], hmax // c["h"]
        if ry > 1 or rx > 1:
            plane = np.repeat(np.repeat(plane, ry, axis=0), rx, axis=1)
        full.append(plane[:h, :w])
    if len(full) == 1:
        top = float((1 << prec) - 1)
        g = np.clip(full[0], 0, top)
        if prec > 8:  # pipeline output is 8-bit: scale down
            g = g * (255.0 / top)
        g = g.round().astype(np.uint8)
        return np.repeat(g[:, :, None], 3, axis=2)
    return _ycbcr_to_rgb(np.stack(full, axis=-1), prec)


# ------------------------------------------------- progressive decoder

def _geometry(frame):
    """(hmax, vmax, mcux, mcuy) for the frame's interleaved grid."""
    hmax = max(c["h"] for c in frame["comps"])
    vmax = max(c["v"] for c in frame["comps"])
    mcux = -(-frame["w"] // (8 * hmax))
    mcuy = -(-frame["h"] // (8 * vmax))
    return hmax, vmax, mcux, mcuy


def _used_blocks(frame, c):
    """Non-interleaved scans cover only the component's REAL blocks
    (T.81 A.2.2): ceil(component dimension / 8), no MCU dummy padding."""
    hmax, vmax, _, _ = _geometry(frame)
    cw = -(-frame["w"] * c["h"] // hmax)
    ch = -(-frame["h"] * c["v"] // vmax)
    return -(-ch // 8), -(-cw // 8)


def _alloc_coefs(frame) -> list[np.ndarray]:
    """Per-component coefficient accumulators over the full interleaved
    grid (dummy MCU-padding blocks included), zigzag index order."""
    _, _, mcux, mcuy = _geometry(frame)
    return [np.zeros((mcuy * c["v"], mcux * c["h"], 64), np.int32)
            for c in frame["comps"]]


def _decode_prog_scan(data, pos, frame, scan, ss, se, ah, al, coefs,
                      htabs, restart_interval):
    """One progressive SOS (T.81 §G.2): updates `coefs` in place,
    returns the stream position after the scan's entropy data."""
    br = _BitReader(data, pos)
    _, _, mcux, mcuy = _geometry(frame)
    if ss == 0:  # DC scan
        if se != 0:
            raise ValueError("DC scan with Se != 0")
        preds = [0] * len(scan)
        n = 0
        if len(scan) > 1:  # interleaved over MCUs
            for my in range(mcuy):
                for mx in range(mcux):
                    if restart_interval and n and \
                            n % restart_interval == 0:
                        br.align_restart()
                        preds = [0] * len(scan)
                    n += 1
                    for si, (ci, c, td, _) in enumerate(scan):
                        for by in range(c["v"]):
                            for bx in range(c["h"]):
                                blk = coefs[ci][my * c["v"] + by,
                                                mx * c["h"] + bx]
                                preds[si] = _dc_unit(
                                    br, blk, ah, al, htabs, td, preds[si])
        else:  # single component: non-interleaved over used blocks
            ci, c, td, _ = scan[0]
            nbh, nbw = _used_blocks(frame, c)
            for r_ in range(nbh):
                for c_ in range(nbw):
                    if restart_interval and n and \
                            n % restart_interval == 0:
                        br.align_restart()
                        preds = [0]
                    n += 1
                    preds[0] = _dc_unit(br, coefs[ci][r_, c_], ah, al,
                                        htabs, td, preds[0])
        return br.pos
    # AC scan: always non-interleaved, single component (T.81 B.2.3)
    if len(scan) != 1:
        raise ValueError("progressive AC scan with ns != 1")
    ci, c, _, ta = scan[0]
    nbh, nbw = _used_blocks(frame, c)
    tab = htabs[(1, ta)]
    eobrun = 0
    n = 0
    for r_ in range(nbh):
        for c_ in range(nbw):
            if restart_interval and n and n % restart_interval == 0:
                br.align_restart()
                eobrun = 0
            n += 1
            blk = coefs[ci][r_, c_]
            if ah == 0:
                eobrun = _ac_first_unit(br, blk, ss, se, al, tab, eobrun)
            else:
                eobrun = _ac_refine_unit(br, blk, ss, se, al, tab, eobrun)
    return br.pos


def _dc_unit(br, blk, ah, al, htabs, td, pred):
    if ah == 0:  # first DC scan: diff-coded, point-transformed
        cat = htabs[(0, td)].decode(br)
        pred += _extend(br.read(cat), cat) if cat else 0
        blk[0] = pred << al
    else:  # refinement: one raw bit appends bit `al` of the DC value
        if br.read(1):
            blk[0] |= 1 << al
    return pred


def _ac_first_unit(br, blk, ss, se, al, tab, eobrun) -> int:
    """First AC scan for one block (G.2.2): run/size coding within the
    band, values point-transformed by Al, EOB-run block skipping."""
    if eobrun:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = tab.decode(br)
        r, s = rs >> 4, rs & 0xF
        if s == 0:
            if r == 15:  # ZRL: 16 zeros
                k += 16
                continue
            eobrun = (1 << r) - 1  # this block ends the run
            if r:
                eobrun += br.read(r)
            return eobrun
        k += r
        if k > se:
            raise ValueError("AC coefficient index past Se")
        blk[k] = _extend(br.read(s), s) << al
        k += 1
    return 0


def _ac_refine_unit(br, blk, ss, se, al, tab, eobrun) -> int:
    """AC refinement scan for one block (G.2.3, the libjpeg-compatible
    correction-bit walk): history-nonzero coefficients absorb one
    correction bit each as the band is traversed; newly-significant
    coefficients arrive as run-of-ZERO-HISTORY positions + sign."""
    p1, m1 = 1 << al, -(1 << al)
    k = ss
    if eobrun == 0:
        while k <= se:
            rs = tab.decode(br)
            r, s = rs >> 4, rs & 0xF
            newval = 0
            if s:
                if s != 1:
                    raise ValueError("refinement magnitude != 1")
                newval = p1 if br.read(1) else m1
            elif r != 15:  # EOB run (possibly with extension bits)
                eobrun = 1 << r
                if r:
                    eobrun += br.read(r)
                break
            # advance: correction bits for nonzero history, count down
            # r zero-history positions (r==15 → ZRL skips 16 zeros)
            while k <= se:
                if blk[k] != 0:
                    if br.read(1) and (blk[k] & p1) == 0:
                        blk[k] += p1 if blk[k] >= 0 else m1
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if newval:
                if k > se:
                    raise ValueError("refinement placement past Se")
                blk[k] = newval
            k += 1
    if eobrun:
        # remaining band positions: correction bits only
        while k <= se:
            if blk[k] != 0:
                if br.read(1) and (blk[k] & p1) == 0:
                    blk[k] += p1 if blk[k] >= 0 else m1
            k += 1
        eobrun -= 1
    return eobrun


# ------------------------------------------------- progressive encoder

class _SymCollector:
    """Pass-1 sink: records Huffman symbols per table key so canonical
    tables can be built before the emission pass."""

    def __init__(self):
        self.syms: dict[int, list[int]] = {}

    def sym(self, key: int, s: int):
        self.syms.setdefault(key, []).append(s)

    def bits(self, v: int, n: int):
        pass

    def restart(self):
        pass


class _ScanWriter:
    """Pass-2 sink: writes Huffman codes + raw bits; restart() pads the
    byte and interleaves RSTn markers (cycling modulo 8 per T.81)."""

    def __init__(self, codes: dict[int, dict]):
        self.bw = _BitWriter()
        self.codes = codes
        self.rst = 0

    def sym(self, key: int, s: int):
        code, length = self.codes[key][s]
        self.bw.write(code, length)

    def bits(self, v: int, n: int):
        if n:
            self.bw.write(v, n)

    def restart(self):
        self.bw.flush()
        self.bw.out += bytes([0xFF, 0xD0 + self.rst])
        self.rst = (self.rst + 1) % 8


def _run_dc_scan(sink, comp_mcu_blocks, bpm, ah, al, ri):
    """DC scan over MCU-interleaved blocks: first scan (ah=0) codes
    diffs of the point-transformed DC values; refinement emits bit `al`
    of each DC value raw. Table key = scan-component index."""
    ncomp = len(comp_mcu_blocks)
    preds = [0] * ncomp
    n_mcus = len(comp_mcu_blocks[0]) // bpm[0]
    for m in range(n_mcus):
        if ri and m and m % ri == 0:
            sink.restart()
            preds = [0] * ncomp
        for si in range(ncomp):
            for b in range(bpm[si]):
                dc = int(comp_mcu_blocks[si][m * bpm[si] + b][0])
                if ah == 0:
                    t = dc >> al  # arithmetic shift: floor, sign kept
                    diff = t - preds[si]
                    preds[si] = t
                    cat = _category(diff)
                    sink.sym(si, cat)
                    if cat:
                        mag = diff if diff > 0 else diff + (1 << cat) - 1
                        sink.bits(mag, cat)
                else:
                    sink.bits((dc >> al) & 1, 1)


def _run_ac_first_scan(sink, blocks, ss, se, al, ri):
    """AC first scan (G.1.2.2 shape within [Ss,Se]): run/size over the
    point-transformed band, EOB per block (an EOB run of length 1 —
    legal, simply uncompacted)."""
    for n, blk in enumerate(blocks):
        if ri and n and n % ri == 0:
            sink.restart()
        run = 0
        for v in (int(x) for x in blk[ss:se + 1]):
            t = (v >> al) if v >= 0 else -((-v) >> al)
            if t == 0:
                run += 1
                continue
            while run > 15:
                sink.sym(0, 0xF0)
                run -= 16
            cat = _category(t)
            sink.sym(0, (run << 4) | cat)
            mag = t if t > 0 else t + (1 << cat) - 1
            sink.bits(mag, cat)
            run = 0
        if run:
            sink.sym(0, 0x00)


def _run_ac_refine_scan(sink, blocks, ss, se, al, ri):
    """AC refinement scan (G.1.2.3): correction bits are emitted in the
    exact order the decoder's position walk consumes them — each
    ZRL/newly-significant/EOB symbol carries the correction bits of the
    history-nonzero coefficients inside the span that symbol covers."""
    for n, blk in enumerate(blocks):
        if ri and n and n % ri == 0:
            sink.restart()
        band = [int(x) for x in blk[ss:se + 1]]
        absv = [abs(v) >> al for v in band]
        size = len(band)
        cursor = 0
        for idx in (i for i, t in enumerate(absv) if t == 1):
            r = sum(1 for i in range(cursor, idx) if absv[i] == 0)
            while r > 15:
                sink.sym(0, 0xF0)
                zeros = 0
                while cursor < size and zeros < 16:
                    if absv[cursor] == 0:
                        zeros += 1
                    elif absv[cursor] > 1:
                        sink.bits(absv[cursor] & 1, 1)
                    cursor += 1
                r -= 16
            sink.sym(0, (r << 4) | 1)
            sink.bits(1 if band[idx] > 0 else 0, 1)
            while cursor < idx:
                if absv[cursor] > 1:
                    sink.bits(absv[cursor] & 1, 1)
                cursor += 1
            cursor = idx + 1
        if cursor < size:  # EOB run of 1 covering the remainder
            sink.sym(0, 0x00)
            for i in range(cursor, size):
                if absv[i] > 1:
                    sink.bits(absv[i] & 1, 1)


def encode_jpeg_progressive(img: np.ndarray, subsample: bool = False,
                            restart_interval: int = 0) -> bytes:
    """HxW (grayscale) or HxWx3 (RGB) uint8 → PROGRESSIVE JFIF bytes
    (SOF2). Same color/quantization pipeline as encode_jpeg, so a full
    decode of this stream is bitwise-identical to decoding the baseline
    encoding of the same image (the round-trip tests pin that).

    Progression script (libjpeg-shaped): interleaved DC at Al=1 + DC
    refinement; per-component AC bands 1-5 and 6-63 at Al=2, then two
    full-band refinement passes 2→1→0."""
    gray = img.ndim == 2
    h, w = img.shape[:2]
    if gray:
        subsample = False
    hf, vf = (2, 2) if subsample else (1, 1)
    align = 8 * max(hf, vf)
    ph, pw = -(-h // align) * align, -(-w // align) * align

    if gray:
        planes = [np.pad(img, ((0, ph - h), (0, pw - w)), mode="edge")]
        qtabs, qids, samp = [Q_LUMA], [0], [(1, 1)]
    else:
        ycc = _rgb_to_ycbcr(img)
        planes = [np.pad(ycc[..., i], ((0, ph - h), (0, pw - w)),
                         mode="edge") for i in range(3)]
        if subsample:
            for i in (1, 2):
                p = planes[i]
                planes[i] = p.reshape(p.shape[0] // 2, 2,
                                      p.shape[1] // 2, 2).mean(axis=(1, 3))
        qtabs, qids = [Q_LUMA, Q_CHROMA, Q_CHROMA], [0, 1, 1]
        samp = [(hf, vf), (1, 1), (1, 1)]

    ncomp = len(planes)
    comp_raster = _encode_blocks(planes, qtabs)
    mcux, mcuy = pw // align, ph // align
    bpm = [sh * sv for sh, sv in samp]
    hmax, vmax = hf, vf
    comp_mcu, comp_used = [], []
    for ci, plane in enumerate(planes):
        sh, sv = samp[ci]
        n_cols = plane.shape[1] // 8
        comp_mcu.append([comp_raster[ci][(y // 8) * n_cols + (x // 8)]
                         for y, x in _mcu_block_order(sh, sv, mcux, mcuy)])
        # non-interleaved scans cover only the REAL blocks (no MCU pad)
        cw, ch = -(-w * sh // hmax), -(-h * sv // vmax)
        nbw, nbh = -(-cw // 8), -(-ch // 8)
        comp_used.append([comp_raster[ci][r * n_cols + c]
                          for r in range(nbh) for c in range(nbw)])

    out = bytearray(b"\xff\xd8")
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00" \
        + struct.pack(">HH", 1, 1) + b"\x00\x00"
    for qid, q in enumerate(qtabs[:2] if not gray else qtabs[:1]):
        zz = q.flatten()[ZIGZAG].astype(np.uint8).tobytes()
        out += b"\xff\xdb" + struct.pack(">H", 67) + bytes([qid]) + zz
    out += b"\xff\xc2" + struct.pack(">HBHHB", 8 + 3 * ncomp, 8, h, w, ncomp)
    for ci in range(ncomp):
        sh, sv = samp[ci]
        out += bytes([ci + 1, (sh << 4) | sv, qids[ci]])
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)

    scans = [("dc", None, 0, 0, 0, 1), ("dc", None, 0, 0, 1, 0)]
    for ci in range(ncomp):
        scans += [("ac", ci, 1, 5, 0, 2), ("ac", ci, 6, 63, 0, 2)]
    for ci in range(ncomp):
        scans += [("ac", ci, 1, 63, 2, 1), ("ac", ci, 1, 63, 1, 0)]

    for kind, ci, ss, se, ah, al in scans:
        def run(sink):
            if kind == "dc":
                _run_dc_scan(sink, comp_mcu, bpm, ah, al, restart_interval)
            elif ah == 0:
                _run_ac_first_scan(sink, comp_used[ci], ss, se, al,
                                   restart_interval)
            else:
                _run_ac_refine_scan(sink, comp_used[ci], ss, se, al,
                                    restart_interval)
        col = _SymCollector()
        run(col)
        tables = {k: _canonical_table(v) for k, v in col.syms.items()}
        cls = 0 if kind == "dc" else 1
        for key, (bits, syms, _) in sorted(tables.items()):
            tid = key if kind == "dc" else 0
            payload = bytes([(cls << 4) | tid]) + bytes(bits[1:17]) \
                + bytes(syms)
            out += b"\xff\xc4" + struct.pack(">H", 2 + len(payload)) \
                + payload
        comps = list(range(ncomp)) if kind == "dc" else [ci]
        out += b"\xff\xda" + struct.pack(">HB", 6 + 2 * len(comps),
                                         len(comps))
        for j, cj in enumerate(comps):
            td = j if (kind == "dc" and ah == 0) else 0
            out += bytes([cj + 1, (td << 4) | 0])
        out += bytes([ss, se, (ah << 4) | al])
        wr = _ScanWriter({k: t[2] for k, t in tables.items()})
        run(wr)
        wr.bw.flush()
        out += wr.bw.out
    out += b"\xff\xd9"
    return bytes(out)


def encode_jpeg_12bit(img12: np.ndarray) -> bytes:
    """HxW uint16 (0-4095) grayscale → 12-bit-precision extended
    sequential JFIF bytes (SOF1, 16-bit DQT, level shift 2048) — the
    scanned-document archive shape. Decodes through decode_jpeg, which
    scales the 12-bit plane to the pipeline's 8-bit output."""
    if img12.ndim != 2 or img12.dtype != np.uint16:
        raise ValueError("encode_jpeg_12bit wants HxW uint16")
    if img12.max() > 4095:
        raise ValueError("12-bit samples exceed 4095")
    h, w = img12.shape
    ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
    plane = np.pad(img12, ((0, ph - h), (0, pw - w)), mode="edge")
    q = (Q_LUMA.astype(np.int64) * 16).clip(1, 65535)  # scale for 12-bit

    blocks = []
    shifted = plane.astype(np.float64) - 2048.0
    for by in range(0, ph, 8):
        for bx in range(0, pw, 8):
            f = DCT_M @ shifted[by:by + 8, bx:bx + 8] @ DCT_M.T
            blocks.append(np.round(f / q).astype(np.int64)
                          .flatten()[ZIGZAG])

    dc_syms, ac_syms = [], []
    prev = 0
    for blk in blocks:
        dc_syms.append(_category(int(blk[0]) - prev))
        prev = int(blk[0])
        run = 0
        for v in blk[1:]:
            if v == 0:
                run += 1
                continue
            while run > 15:
                ac_syms.append(0xF0)
                run -= 16
            ac_syms.append((run << 4) | _category(int(v)))
            run = 0
        if run:
            ac_syms.append(0x00)
    dc_tab = _canonical_table(dc_syms or [0])
    ac_tab = _canonical_table(ac_syms or [0])

    out = bytearray(b"\xff\xd8")
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00" \
        + struct.pack(">HH", 1, 1) + b"\x00\x00"
    zz = q.flatten()[ZIGZAG].astype(">u2").tobytes()
    out += b"\xff\xdb" + struct.pack(">H", 131) + bytes([0x10]) + zz
    out += b"\xff\xc1" + struct.pack(">HBHHB", 11, 12, h, w, 1)
    out += bytes([1, 0x11, 0])
    for cls, (bits, syms, _) in ((0, dc_tab), (1, ac_tab)):
        payload = bytes([cls << 4]) + bytes(bits[1:17]) + bytes(syms)
        out += b"\xff\xc4" + struct.pack(">H", 2 + len(payload)) + payload
    out += b"\xff\xda" + struct.pack(">HB", 8, 1) + bytes([1, 0x00]) \
        + b"\x00\x3f\x00"

    bw = _BitWriter()
    prev = 0
    _, _, dc_codes = dc_tab
    _, _, ac_codes = ac_tab
    for blk in blocks:
        diff = int(blk[0]) - prev
        prev = int(blk[0])
        cat = _category(diff)
        code, L = dc_codes[cat]
        bw.write(code, L)
        if cat:
            mag = diff if diff > 0 else diff + (1 << cat) - 1
            bw.write(mag, cat)
        run = 0
        for v in blk[1:]:
            v = int(v)
            if v == 0:
                run += 1
                continue
            while run > 15:
                code, L = ac_codes[0xF0]
                bw.write(code, L)
                run -= 16
            cat = _category(v)
            code, L = ac_codes[(run << 4) | cat]
            bw.write(code, L)
            mag = v if v > 0 else v + (1 << cat) - 1
            bw.write(mag, cat)
            run = 0
        if run:
            code, L = ac_codes[0x00]
            bw.write(code, L)
    bw.flush()
    out += bytes(bw.out) + b"\xff\xd9"
    return bytes(out)


def _blocks_12bit(plane: np.ndarray, q: np.ndarray) -> list[np.ndarray]:
    """12-bit-precision component plane (float, 0-4095, padded to 8) →
    zigzagged quantized coefficient blocks in raster order."""
    ph, pw = plane.shape
    shifted = plane.astype(np.float64) - 2048.0
    blocks = []
    for by in range(0, ph, 8):
        for bx in range(0, pw, 8):
            f = DCT_M @ shifted[by:by + 8, bx:bx + 8] @ DCT_M.T
            blocks.append(np.round(f / q).astype(np.int64)
                          .flatten()[ZIGZAG])
    return blocks


def _write_dc(bw, dc_codes, diff: int) -> None:
    cat = _category(diff)
    code, length = dc_codes[cat]
    bw.write(code, length)
    if cat:
        bw.write(diff if diff > 0 else diff + (1 << cat) - 1, cat)


def _write_acs(bw, ac_codes, blk) -> None:
    run = 0
    for v in blk[1:]:
        v = int(v)
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, length = ac_codes[0xF0]
            bw.write(code, length)
            run -= 16
        cat = _category(v)
        code, length = ac_codes[(run << 4) | cat]
        bw.write(code, length)
        bw.write(v if v > 0 else v + (1 << cat) - 1, cat)
        run = 0
    if run:
        code, length = ac_codes[0x00]
        bw.write(code, length)


def encode_jpeg_12bit_ext(img12: np.ndarray,
                          progressive: bool = False) -> bytes:
    """12-bit-precision JFIF: HxW uint16 grayscale or HxWx3 uint16 RGB
    (0-4095), sequential (SOF1) or progressive (SOF2: one interleaved
    DC scan + per-component full-spectral AC scans with EOB0 per block
    — eobrun=1, no successive approximation). Color converts to YCbCr
    with chroma centered at 2048 and no subsampling; Y uses the 16x
    luma table, chroma the 16x chroma table. A fully-coded progressive
    stream reconstructs the SAME quantized coefficients as its
    sequential counterpart, so their decodes are bitwise identical."""
    if img12.dtype != np.uint16:
        raise ValueError("encode_jpeg_12bit_ext wants uint16 samples")
    if img12.max() > 4095:
        raise ValueError("12-bit samples exceed 4095")
    color = img12.ndim == 3
    if color and img12.shape[2] != 3:
        raise ValueError("color input must be HxWx3")
    h, w = img12.shape[:2]
    ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
    if color:
        r, g, b = [img12[..., i].astype(np.float64) for i in range(3)]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 2048.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 2048.0
        planes = [y, cb, cr]
        qids = [0, 1, 1]
    else:
        planes = [img12.astype(np.float64)]
        qids = [0]
    planes = [np.pad(p, ((0, ph - h), (0, pw - w)), mode="edge")
              for p in planes]
    q0 = (Q_LUMA.astype(np.int64) * 16).clip(1, 65535)
    q1 = (Q_CHROMA.astype(np.int64) * 16).clip(1, 65535)
    qtabs = [q0, q1]
    comp_blocks = [_blocks_12bit(p, qtabs[qi])
                   for p, qi in zip(planes, qids)]
    nbx = pw // 8

    # symbol statistics (DC shared across comps, AC shared)
    dc_syms, ac_syms = [], []
    for blocks in comp_blocks:
        prev = 0
        for blk in blocks:
            dc_syms.append(_category(int(blk[0]) - prev))
            prev = int(blk[0])
            run = 0
            for v in blk[1:]:
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    ac_syms.append(0xF0)
                    run -= 16
                ac_syms.append((run << 4) | _category(int(v)))
                run = 0
            if run:
                ac_syms.append(0x00)
    dc_tab = _canonical_table(dc_syms or [0])
    ac_tab = _canonical_table(ac_syms or [0])
    _, _, dc_codes = dc_tab
    _, _, ac_codes = ac_tab

    out = bytearray(b"\xff\xd8")
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00" \
        + struct.pack(">HH", 1, 1) + b"\x00\x00"
    for qi in sorted(set(qids)):
        zz = qtabs[qi].flatten()[ZIGZAG].astype(">u2").tobytes()
        out += b"\xff\xdb" + struct.pack(">H", 131) \
            + bytes([0x10 | qi]) + zz
    nc = len(planes)
    sof = 0xC2 if progressive else 0xC1
    out += bytes([0xFF, sof]) \
        + struct.pack(">HBHHB", 8 + 3 * nc, 12, h, w, nc)
    for ci, qi in enumerate(qids):
        out += bytes([ci + 1, 0x11, qi])
    for cls, (bits, syms, _) in ((0, dc_tab), (1, ac_tab)):
        payload = bytes([cls << 4]) + bytes(bits[1:17]) + bytes(syms)
        out += b"\xff\xc4" + struct.pack(">H", 2 + len(payload)) + payload

    if not progressive:
        # single interleaved sequential scan
        out += b"\xff\xda" + struct.pack(">HB", 6 + 2 * nc, nc)
        for ci in range(nc):
            out += bytes([ci + 1, 0x00])
        out += b"\x00\x3f\x00"
        bw = _BitWriter()
        preds = [0] * nc
        n_mcu = len(comp_blocks[0])
        for m in range(n_mcu):
            for ci in range(nc):
                blk = comp_blocks[ci][m]
                diff = int(blk[0]) - preds[ci]
                preds[ci] = int(blk[0])
                _write_dc(bw, dc_codes, diff)
                _write_acs(bw, ac_codes, blk)
        bw.flush()
        out += bytes(bw.out) + b"\xff\xd9"
        return bytes(out)

    # progressive: interleaved DC scan (Ss=Se=0), then one
    # full-spectral AC scan per component (Ss=1, Se=63, Ah=Al=0;
    # EOB0 after each block = eobrun of 1)
    out += b"\xff\xda" + struct.pack(">HB", 6 + 2 * nc, nc)
    for ci in range(nc):
        out += bytes([ci + 1, 0x00])
    out += b"\x00\x00\x00"
    bw = _BitWriter()
    preds = [0] * nc
    for m in range(len(comp_blocks[0])):
        for ci in range(nc):
            blk = comp_blocks[ci][m]
            diff = int(blk[0]) - preds[ci]
            preds[ci] = int(blk[0])
            _write_dc(bw, dc_codes, diff)
    bw.flush()
    out += bytes(bw.out)
    for ci in range(nc):
        out += b"\xff\xda" + struct.pack(">HB", 8, 1) \
            + bytes([ci + 1, 0x00]) + b"\x01\x3f\x00"
        bw = _BitWriter()
        for blk in comp_blocks[ci]:
            run = 0
            for v in blk[1:]:
                v = int(v)
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    code, length = ac_codes[0xF0]
                    bw.write(code, length)
                    run -= 16
                cat = _category(v)
                code, length = ac_codes[(run << 4) | cat]
                bw.write(code, length)
                bw.write(v if v > 0 else v + (1 << cat) - 1, cat)
                run = 0
            # end of block → EOB run of 1 (symbol 0x00, no bits)
            code, length = ac_codes[0x00]
            bw.write(code, length)
        bw.flush()
        out += bytes(bw.out)
    out += b"\xff\xd9"
    return bytes(out)


# ------------------------------------------------- lossless (SOF3)

def _predict(plane: np.ndarray, x: int, y: int, sel: int,
             default: int) -> int:
    """T.81 H.1 predictors; first sample → the level-shift default,
    first row → Ra after the first sample, first column → Rb."""
    if y == 0:
        return default if x == 0 else int(plane[0, x - 1])
    if x == 0:
        return int(plane[y - 1, 0])
    ra, rb, rc = (int(plane[y, x - 1]), int(plane[y - 1, x]),
                  int(plane[y - 1, x - 1]))
    if sel == 1:
        return ra
    if sel == 2:
        return rb
    if sel == 3:
        return rc
    if sel == 4:
        return ra + rb - rc
    if sel == 5:
        return ra + ((rb - rc) >> 1)
    if sel == 6:
        return rb + ((ra - rc) >> 1)
    if sel == 7:
        return (ra + rb) >> 1
    raise ValueError(f"lossless predictor {sel}")


def _decode_lossless(data, pos, frame, scan, htabs, predictor, pt,
                     restart_interval):
    """SOF3 huffman lossless scan: per-sample DC-style differences,
    sample-interleaved across components (all sampling factors 1),
    modulo-2^16 arithmetic. Output scaled to the 8-bit pipeline
    output. 3-component lossless is stored as direct RGB (no YCbCr
    transform, per common practice)."""
    if pt:
        raise NotImplementedError("lossless point transform Pt > 0")
    if restart_interval:
        raise NotImplementedError("lossless restart intervals")
    h, w = frame["h"], frame["w"]
    prec = frame["prec"]
    default = 1 << (prec - 1)
    planes = [np.zeros((h, w), np.int64) for _ in scan]
    tabs = [htabs[(0, td)] for _, td in scan]
    br = _BitReader(data, pos)
    for y in range(h):
        for x in range(w):
            for pi, (plane, tab) in enumerate(zip(planes, tabs)):
                cat = tab.decode(br)
                if cat == 16:
                    diff = 32768
                elif cat:
                    diff = _extend(br.read(cat), cat)
                else:
                    diff = 0
                plane[y, x] = (_predict(plane, x, y, predictor,
                                        default) + diff) & 0xFFFF
    top = float((1 << prec) - 1)
    outs = []
    for plane in planes:
        p = np.clip(plane.astype(np.float64), 0, top)
        if prec > 8:
            p = p * (255.0 / top)
        outs.append(p.round().astype(np.uint8))
    if len(outs) == 1:
        return np.repeat(outs[0][:, :, None], 3, axis=2)
    if len(outs) == 3:
        return np.stack(outs, axis=-1)
    raise NotImplementedError(f"{len(outs)}-component lossless JPEG")


def encode_jpeg_lossless(img: np.ndarray, predictor: int = 1) -> bytes:
    """uint8 HxW grayscale or HxWx3 RGB → SOF3 huffman lossless JPEG
    (decode_jpeg(encode_jpeg_lossless(img)) == img exactly; 3-comp is
    direct RGB)."""
    if img.dtype != np.uint8:
        raise ValueError("encode_jpeg_lossless wants uint8")
    color = img.ndim == 3
    planes = ([img[..., i].astype(np.int64) for i in range(3)]
              if color else [img.astype(np.int64)])
    h, w = img.shape[:2]
    prec = 8
    default = 1 << (prec - 1)
    # differences, raster order, sample-interleaved
    diffs_per_comp: list[list[int]] = [[] for _ in planes]
    syms: list[int] = []
    for ci, plane in enumerate(planes):
        for y in range(h):
            for x in range(w):
                d = (int(plane[y, x])
                     - _predict(plane, x, y, predictor, default))
                d = ((d + 32768) & 0xFFFF) - 32768  # mod-2^16 window
                diffs_per_comp[ci].append(d)
                syms.append(16 if d == 32768 else _category(d))
    tab = _canonical_table(syms or [0])
    bits, symlist, codes = tab

    out = bytearray(b"\xff\xd8")
    nc = len(planes)
    out += b"\xff\xc3" + struct.pack(">HBHHB", 8 + 3 * nc, prec, h, w,
                                     nc)
    for ci in range(nc):
        out += bytes([ci + 1, 0x11, 0])
    payload = bytes([0x00]) + bytes(bits[1:17]) + bytes(symlist)
    out += b"\xff\xc4" + struct.pack(">H", 2 + len(payload)) + payload
    out += b"\xff\xda" + struct.pack(">HB", 6 + 2 * nc, nc)
    for ci in range(nc):
        out += bytes([ci + 1, 0x00])
    out += bytes([predictor, 0, 0])  # Ss=predictor, Se=0, Ah/Al=0
    bw = _BitWriter()
    idx = [0] * nc
    for y in range(h):
        for x in range(w):
            for ci in range(nc):
                d = diffs_per_comp[ci][y * w + x]
                cat = 16 if d == 32768 else _category(d)
                code, length = codes[cat]
                bw.write(code, length)
                if cat and cat != 16:
                    bw.write(d if d > 0 else d + (1 << cat) - 1, cat)
    bw.flush()
    out += bytes(bw.out) + b"\xff\xd9"
    return bytes(out)
