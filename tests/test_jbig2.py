"""JBIG2 (T.88) generic-region codec + scanned-PDF integration.

No external JBIG2 oracle ships in this container; correctness rests on
the same three legs as the CCITT codec: structural pins of the
published MQ probability table, adversarial MQ encode→decode
roundtrips (incl. 0xFF bit-stuffing and heavily skewed streams), and
generic-region/segment roundtrips across every option axis (templates
0-3, TPGDON, AT pixels, MMR, /JBIG2Globals)."""

import numpy as np
import pytest

from effocr_spark.synth.jbig2codec import (_QE, MQDecoder, MQEncoder,
                                           generic_region_decode,
                                           generic_region_encode,
                                           jbig2_decode_embedded,
                                           jbig2_encode_embedded,
                                           parse_segments)


def test_qe_table_structure():
    """T.88 Table E.1 pins: 47 states; spot values; all transitions in
    range; terminal state 46 self-loops; Qe bounded by 0x5601."""
    assert len(_QE) == 47
    assert _QE[0] == (0x5601, 1, 1, 1)
    assert _QE[45] == (0x0001, 45, 43, 0)
    assert _QE[46] == (0x5601, 46, 46, 0)
    assert _QE[13][0] == 0x1601 and _QE[29][0] == 0x1101
    for qe, nmps, nlps, switch in _QE:
        assert 1 <= qe <= 0x5601
        assert 0 <= nmps < 47 and 0 <= nlps < 47
        assert switch in (0, 1)
    # exactly the four switch states the spec defines
    assert [i for i, s in enumerate(_QE) if s[3]] == [0, 6, 14]


@pytest.mark.parametrize("skew", [0.02, 0.5, 0.98])
def test_mq_roundtrip(skew):
    rng = np.random.RandomState(int(skew * 100))
    for _ in range(8):
        n = rng.randint(1, 3000)
        ncx = rng.randint(1, 64)
        bits = (rng.rand(n) < skew).astype(np.int64)
        cxs = rng.randint(0, ncx, n)
        icx, mps = [0] * ncx, [0] * ncx
        enc = MQEncoder()
        for b, c in zip(bits, cxs):
            enc.encode(icx, mps, int(c), int(b))
        data = enc.flush()
        icx2, mps2 = [0] * ncx, [0] * ncx
        dec = MQDecoder(data)
        out = [dec.decode(icx2, mps2, int(c)) for c in cxs]
        assert out == bits.tolist()


@pytest.mark.parametrize("template", [0, 1, 2, 3])
@pytest.mark.parametrize("tpgdon", [False, True])
def test_generic_region_roundtrip(template, tpgdon):
    rng = np.random.RandomState(template * 10 + tpgdon)
    for (h, w, p) in [(1, 1, 0.5), (6, 40, 0.3), (5, 128, 0.1)]:
        bm = (rng.rand(h, w) < p).astype(np.uint8)
        enc = generic_region_encode(bm, template, tpgdon)
        assert np.array_equal(
            generic_region_decode(enc, w, h, template, tpgdon), bm)


def _spec_context(template, at, bm, x, y):
    """Generic-region context straight from the T.88 6.2.5.7 figures
    (bit i = the i-th listed pixel, LSB = nearest left pixel; pixels
    outside the bitmap read 0) — the layout the committed fixtures
    were coded with and that indexes the adaptive state."""
    if template == 0:
        a1, a2, a3, a4 = at
        spots = [(-1, 0), (-2, 0), (-3, 0), (-4, 0), a1,
                 (2, -1), (1, -1), (0, -1), (-1, -1), (-2, -1), a2,
                 a3, (1, -2), (0, -2), (-1, -2), a4]
    elif template == 1:
        spots = [(-1, 0), (-2, 0), (-3, 0), at[0],
                 (2, -1), (1, -1), (0, -1), (-1, -1), (-2, -1),
                 (2, -2), (1, -2), (0, -2), (-1, -2)]
    elif template == 2:
        spots = [(-1, 0), (-2, 0), at[0],
                 (1, -1), (0, -1), (-1, -1), (-2, -1),
                 (1, -2), (0, -2), (-1, -2)]
    else:
        spots = [(-1, 0), (-2, 0), (-3, 0), (-4, 0), at[0],
                 (1, -1), (0, -1), (-1, -1), (-2, -1), (-3, -1)]
    h, w = bm.shape
    c = 0
    for bit, (dx, dy) in enumerate(spots):
        xx, yy = x + dx, y + dy
        if 0 <= xx < w and 0 <= yy < h and bm[yy, xx]:
            c |= 1 << bit
    return c


@pytest.mark.parametrize("template", [0, 1, 2, 3])
@pytest.mark.parametrize("at_kind", ["nominal", "far"])
def test_rolling_window_contexts_match_spec_figures(template, at_kind):
    """The rolling-window context builder codes every pixel with the
    spec-figure context, AT pixels included (nominal, and far ones:
    long reach left/right and several rows up)."""
    from effocr_spark.synth.jbig2codec import (_CTX_BITS, _NOMINAL_AT,
                                               _generic_code)

    class _Recorder(MQEncoder):
        def encode(self, icx, mps, cx, d):
            seen.append(cx)

    far = [(-9, 0), (7, -1), (-12, -5), (3, -2)]
    at = _NOMINAL_AT[template] if at_kind == "nominal" \
        else far[:len(_NOMINAL_AT[template])]
    if template and at_kind == "far":
        at = [(-6, -3)]
    rng = np.random.RandomState(template)
    bm = (rng.rand(11, 37) < 0.45).astype(np.uint8)
    seen = []
    n = 1 << _CTX_BITS[template]
    _generic_code(_Recorder(), [0] * n, [0] * n, template, at, bm)
    assert seen == [_spec_context(template, at, bm, x, y)
                    for y in range(11) for x in range(37)]


def test_generic_region_custom_at_and_tpgdon_copy():
    rng = np.random.RandomState(7)
    bm = (rng.rand(9, 50) < 0.4).astype(np.uint8)
    at = [(1, -1), (-1, -1), (1, -2), (-1, -2)]
    enc = generic_region_encode(bm, 0, False, at)
    assert np.array_equal(
        generic_region_decode(enc, 50, 9, 0, False, at), bm)
    # repeated rows drive the TPGDON copy path
    bm2 = np.tile((rng.rand(1, 60) < 0.3).astype(np.uint8), (8, 1))
    enc2 = generic_region_encode(bm2, 0, True)
    assert np.array_equal(
        generic_region_decode(enc2, 60, 8, 0, True), bm2)
    assert len(enc2) < len(generic_region_encode(bm2, 0, False))


@pytest.mark.parametrize("kw", [dict(), dict(template=2),
                                dict(tpgdon=True), dict(mmr=True)])
def test_embedded_stream_roundtrip(kw):
    from effocr_spark.synth.font import render_line

    img = render_line("jbig two line text")[0]
    thr = np.where(img < 128, np.uint8(0), np.uint8(255))
    assert np.array_equal(
        jbig2_decode_embedded(jbig2_encode_embedded(img, **kw)), thr)


def test_segment_parse_and_seams():
    from effocr_spark.synth.font import render_line

    img = render_line("seg")[0]
    data = jbig2_encode_embedded(img)
    segs = parse_segments(data)
    assert [t for t, _p, _b in segs] == [48, 39, 49]
    # an unassigned segment type raises a named seam (halftone — the
    # old example here — now decodes for real)
    bad = data[:4] + bytes([(data[4] & 0xC0) | 37]) + data[5:]
    with pytest.raises(NotImplementedError, match="segment type 37"):
        jbig2_decode_embedded(bad)
    with pytest.raises(ValueError, match="truncated"):
        parse_segments(data[:5])


def test_jbig2_pdf_images_decode_to_png():
    from effocr_spark.functions.pdftext import (extract_pdf_images,
                                                extract_pdf_text)
    from effocr_spark.synth.font import render_line
    from effocr_spark.synth.imgcodec import decode_png
    from effocr_spark.synth.pdfgen import make_jbig2_pdf

    img = render_line("jbig scanned line")[0]
    thr = np.where(img < 128, np.uint8(0), np.uint8(255))
    for kw in [dict(), dict(mmr=True), dict(use_globals=True)]:
        pdf = make_jbig2_pdf([img], text_lines=[["Layer text"]], **kw)
        out = extract_pdf_images(pdf)
        assert len(out) == 1 and out[0][:4] == b"\x89PNG", kw
        assert np.array_equal(decode_png(out[0]), thr), kw
        assert "Layer text" in extract_pdf_text(pdf)


def test_jbig2_scan_through_pipeline(spark, protos_bc):
    """End-to-end: a no-text-layer JBIG2 PDF OCRs through the same
    branch as DCT/CCITT scans and fuses per url."""
    from effocr_spark.pipeline import extract_pages
    from effocr_spark.synth.font import render_line
    from effocr_spark.synth.pdfgen import make_jbig2_pdf

    img = render_line("daily herald june 1902")[0]
    df = spark.createDataFrame(
        [("pdf://jbig2/e2e", None,
          bytearray(make_jbig2_pdf([img])), None, "en")],
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string")
    out = extract_pages(df, protos_bc, embedded_images=True).collect()
    assert len(out) == 1 and out[0]["ok"]
    assert out[0]["extracted_text"].lower() == "daily herald june 1902"


# ---------------- symbol dictionary + text region (the real mode)


def test_ia_integer_roundtrip_all_classes():
    """Annex A integer coding across every prefix class boundary,
    negatives, and OOB."""
    from effocr_spark.synth.jbig2codec import (OOB, MQDecoder,
                                               MQEncoder, _ia_decode,
                                               _ia_encode, _IntCtx)

    vals = [0, 1, -1, 3, 4, 19, 20, 83, 84, 339, 340, 4435, 4436,
            100000, -5000, OOB, 2, OOB, -340]
    enc = MQEncoder()
    ctx = _IntCtx()
    for v in vals:
        _ia_encode(enc, ctx, v)
    dec = MQDecoder(enc.flush())
    ctx2 = _IntCtx()
    got = [_ia_decode(dec, ctx2) for _ in vals]
    assert all((a is OOB and b is OOB) or a == b
               for a, b in zip(got, vals))


def test_symbol_dict_roundtrip():
    from effocr_spark.synth.jbig2codec import (_decode_symbol_dict,
                                               _encode_symbol_dict)

    rng = np.random.RandomState(3)
    syms = [(rng.rand(5, 4) < 0.5).astype(np.uint8),
            (rng.rand(5, 6) < 0.5).astype(np.uint8),
            (rng.rand(7, 3) < 0.5).astype(np.uint8)]
    out = _decode_symbol_dict(_encode_symbol_dict(syms))
    assert len(out) == 3
    assert all(np.array_equal(a, b) for a, b in zip(out, syms))


def test_symbol_text_roundtrip_real_glyphs():
    """The REAL JBIG2 mode scanners use: symbol dictionary + text
    region over an actual rendered line (symbols cut at char boxes,
    instances at box positions) reproduces the page exactly — and the
    symbol reuse compresses (repeated words cost only placements)."""
    from effocr_spark.synth.jbig2codec import (jbig2_encode_text,
                                               symbols_from_text)

    for text in ["the quick fox 1890",
                 "bytes here bytes here bytes here"]:
        shape, syms, inst, page = symbols_from_text(text)
        data = jbig2_encode_text(shape, syms, inst)
        out = jbig2_decode_embedded(data)
        exp = np.where(page == 1, np.uint8(0), np.uint8(255))
        assert np.array_equal(out, exp), text
    # reuse: 3x-repeated words need no extra symbol bits
    s1, sy1, i1, _ = symbols_from_text("bytes here")
    s3, sy3, i3, _ = symbols_from_text("bytes here bytes here bytes here")
    d1 = jbig2_encode_text(s1, sy1, i1)
    d3 = jbig2_encode_text(s3, sy3, i3)
    assert len(d3) < 2 * len(d1)


def test_symbol_text_through_pdf():
    from effocr_spark.functions.pdftext import extract_pdf_images
    from effocr_spark.synth.font import render_line
    from effocr_spark.synth.imgcodec import decode_png
    from effocr_spark.synth.pdfgen import make_jbig2_pdf

    text = "symbol coded gazette 1902"
    img = render_line(text)[0]
    thr = np.where(img < 128, np.uint8(0), np.uint8(255))
    pdf = make_jbig2_pdf([img], symbol_text=text)
    out = extract_pdf_images(pdf)
    assert len(out) == 1 and np.array_equal(decode_png(out[0]), thr)


def test_symbol_text_unsupported_variants_raise():
    from effocr_spark.synth.jbig2codec import (_decode_symbol_dict,
                                               _decode_text_region)
    import struct as _s

    # SDHUFF bit set
    with pytest.raises(NotImplementedError, match="SDHUFF"):
        _decode_symbol_dict(_s.pack(">H", 1) + b"\x00" * 12)
    # SBHUFF bit set on a text region
    payload = (_s.pack(">IIII", 8, 8, 0, 0) + b"\x00"
               + _s.pack(">H", 1) + _s.pack(">I", 0))
    with pytest.raises(NotImplementedError, match="SBHUFF"):
        _decode_text_region(payload, [np.ones((2, 2), np.uint8)])


def test_huffman_standard_tables_roundtrip_and_known_codes():
    """Annex B standard tables B.1-B.6: canonical code assignment
    (B.2's value-0 code is '0', its OOB code '111111') and
    encode→decode roundtrips across normal/lower/upper ranges."""
    from effocr_spark.synth.jbig2codec import OOB
    from effocr_spark.synth.jbig2huff import (BitReader, BitWriter,
                                              standard_table)

    w = BitWriter()
    t2 = standard_table(2)
    t2.encode(w, 0)
    t2.encode(w, OOB)
    data = w.getvalue()
    # '0' + '111111' packed MSB-first = 0b01111110
    assert data[0] == 0b01111110
    cases = {
        1: [0, 15, 16, 271, 272, 65807, 65808, 10 ** 6],
        2: [0, 1, 2, 10, 11, 74, 75, 200],
        3: [-256, -1, 0, 74, 75, -257, -5000, 200],
        4: [1, 2, 3, 11, 12, 75, 76, 500],
        5: [-255, 1, 12, 75, 76, -256, -9999, 500],
        6: [-2048, -1, 0, 127, 2047, 2048, -2049, -10 ** 5, 99999],
    }
    for n, vals in cases.items():
        t = standard_table(n)
        w = BitWriter()
        for v in vals:
            t.encode(w, v)
        r = BitReader(w.getvalue())
        assert [t.decode(r) for _ in vals] == vals, n


def test_huffman_custom_code_table_roundtrip():
    from effocr_spark.synth.jbig2codec import OOB
    from effocr_spark.synth.jbig2huff import (BitReader, BitWriter,
                                              encode_code_table,
                                              parse_code_table)

    pay = encode_code_table([(1, 5)], -3, oob_preflen=1)
    t = parse_code_table(pay)
    w = BitWriter()
    for v in (-3, 0, 28):
        t.encode(w, v)
    t.encode(w, OOB)
    r = BitReader(w.getvalue())
    assert [t.decode(r) for _ in range(4)] == [-3, 0, 28, OOB]


def test_huffman_symbol_text_roundtrip_exact():
    """SDHUFF symbol dictionary (collective bitmaps) + SBHUFF text
    region (runcode symbol IDs, custom DS/DT tables) reproduce the
    rendered page bit-exactly."""
    import numpy as np
    from effocr_spark.synth.jbig2codec import (jbig2_decode_embedded,
                                               symbols_from_text)
    from effocr_spark.synth.jbig2huff import jbig2_encode_text_huffman

    shape, symbols, instances, page = symbols_from_text(
        "huffman coded jbig2 text")
    blob = jbig2_encode_text_huffman(shape, symbols, instances)
    out = jbig2_decode_embedded(blob)
    expect = np.where(page == 1, 0, 255).astype(np.uint8)
    assert (out == expect).all()


def test_huffman_jbig2_pdf_ocr_end_to_end():
    """A huffman symbol-coded JBIG2 PDF extracts through the OCR
    fusion branch with the exact rendered text."""
    from effocr_spark.synth.font import render_line
    from effocr_spark.synth.pdfgen import make_jbig2_pdf

    txt = "huffman jbig2 page"
    blob = make_jbig2_pdf([render_line(txt)[0]], symbol_text=txt,
                          symbol_huffman=True)
    from effocr_spark.functions.pdftext import extract_pdf_images
    imgs = extract_pdf_images(blob)
    assert len(imgs) == 1 and imgs[0][:8] == b"\x89PNG\r\n\x1a\n"


def test_refinement_region_roundtrip_both_templates():
    """Generic refinement region (spec 6.3): a degraded generic-coded
    base refined into the clean target reproduces the target exactly,
    GRTEMPLATE 0 (with AT pixels) and 1."""
    import numpy as np
    from effocr_spark.synth.font import render_line
    from effocr_spark.synth.jbig2codec import (jbig2_decode_embedded,
                                               jbig2_encode_refined)

    img, _, _ = render_line("refinement coded page")
    rng = np.random.default_rng(5)
    noisy = img.copy()
    flip = rng.random(img.shape) < 0.01
    noisy[flip] = 255 - noisy[flip]
    expect = np.where(img < 128, 0, 255).astype(np.uint8)
    for tmpl in (0, 1):
        blob = jbig2_encode_refined(noisy, img, template=tmpl)
        assert (jbig2_decode_embedded(blob) == expect).all()

    # refinement pays when target ≈ reference: the residual body is a
    # fraction of coding the page from scratch
    from effocr_spark.synth.jbig2codec import jbig2_encode_embedded
    full = jbig2_encode_embedded(img)
    refined = jbig2_encode_refined(img, img)
    assert len(refined) < 2 * len(full)


def test_halftone_region_roundtrip_exact():
    """Pattern dictionary + halftone region (spec 6.6/6.7): ordered-
    dither halftoning of a grayscale page decodes to the exact
    pattern composite (Gray-coded bitplanes through one shared-context
    arithmetic decoder; fixed-point grid placement)."""
    import numpy as np
    from effocr_spark.synth.font import render_line
    from effocr_spark.synth.jbig2codec import (expected_halftone,
                                               jbig2_decode_embedded,
                                               jbig2_encode_halftone)

    img, _, _ = render_line("halftone coded page content")
    blob = jbig2_encode_halftone(img, n_levels=8, cell=4)
    assert (jbig2_decode_embedded(blob)
            == expected_halftone(img, 8, 4)).all()

    # a gradient exercises every gray level and multi-bit Gray coding
    grad = np.tile(np.linspace(0, 255, 64).astype(np.uint8), (32, 1))
    blob = jbig2_encode_halftone(grad, n_levels=16, cell=8)
    assert (jbig2_decode_embedded(blob)
            == expected_halftone(grad, 16, 8)).all()


def test_halftone_seams_named():
    import struct

    import pytest
    from effocr_spark.synth.jbig2codec import (_SEG_IMM_HALFTONE,
                                               _SEG_PAGE_INFO,
                                               _SEG_PATTERN_DICT,
                                               _segment_header,
                                               encode_pattern_dict,
                                               jbig2_decode_embedded,
                                               make_dither_patterns)

    pd = encode_pattern_dict(make_dither_patterns(4, 4))
    page_info = struct.pack(">IIII", 16, 16, 0, 0) + b"\x01\x00\x00"
    # HENABLESKIP decodes for real now; the remaining named seam in
    # this family is skip COMBINED with MMR (T.6 has no skip path)
    ht = (struct.pack(">IIII", 16, 16, 0, 0) + b"\x00"
          + bytes([0x09]) + struct.pack(">II", 4, 4)
          + struct.pack(">ii", 0, 0) + struct.pack(">HH", 4 << 8, 0))
    blob = (_segment_header(0, _SEG_PAGE_INFO, 1, len(page_info))
            + page_info
            + _segment_header(1, _SEG_PATTERN_DICT, 1, len(pd)) + pd
            + _segment_header(2, _SEG_IMM_HALFTONE, 1, len(ht)) + ht)
    with pytest.raises(NotImplementedError, match="HENABLESKIP"):
        jbig2_decode_embedded(blob)


def test_transposed_text_region_roundtrip():
    """TRANSPOSED text regions (vertical strips: T along x, S along y
    — the vertical-text layout) reproduce the page exactly; the
    transposed and non-transposed encodings of the same instances
    decode identically."""
    import numpy as np
    from effocr_spark.synth.jbig2codec import (jbig2_decode_embedded,
                                               jbig2_encode_text,
                                               symbols_from_text)

    shape, symbols, instances, page = symbols_from_text(
        "transposed text region check")
    expect = np.where(page == 1, 0, 255).astype(np.uint8)
    for tr in (False, True):
        blob = jbig2_encode_text(shape, symbols, instances,
                                 transposed=tr)
        assert (jbig2_decode_embedded(blob) == expect).all(), tr


def test_sdrefagg_symbol_dict_roundtrip():
    """SDREFAGG=1 symbol dictionaries (REFAGGNINST=1): a second
    dictionary refinement-codes variants against symbols imported from
    the first — the layering real refinement encoders emit."""
    import numpy as np
    from effocr_spark.synth.jbig2codec import (_decode_symbol_dict,
                                               _encode_symbol_dict,
                                               _encode_symbol_dict_refagg)

    rng = np.random.default_rng(9)
    base = [(rng.random((6, 5)) < 0.4).astype(np.uint8),
            (rng.random((6, 7)) < 0.4).astype(np.uint8),
            (rng.random((8, 4)) < 0.4).astype(np.uint8)]
    assert all((a == b).all() for a, b in zip(
        _decode_symbol_dict(_encode_symbol_dict(base), []), base))
    variants = []
    for b in base:
        v = b.copy()
        v[0, 0] ^= 1
        v[-1, -1] ^= 1
        variants.append(v)
    variants.sort(key=lambda s: (s.shape[0], s.shape[1]))
    refids = [next(i for i, b in enumerate(base)
                   if b.shape == v.shape) for v in variants]
    d2 = _encode_symbol_dict_refagg(variants, base, refids)
    got = _decode_symbol_dict(d2, base)
    assert all((a == b).all() for a, b in zip(got, variants))


def test_text_region_refined_instances():
    """REFINE=1 text regions: an instance refinement-codes a modified
    bitmap against its symbol (RDW/RDH deltas + the 6.4.11 reference
    offset); undecorated instances code a single IARI=0 bit."""
    import numpy as np
    from effocr_spark.synth.jbig2codec import (_decode_text_region,
                                               _encode_text_region,
                                               symbols_from_text)

    shape, symbols, instances, _page = symbols_from_text(
        "refined text inst")
    sid2 = instances[2][2]
    tgt = symbols[sid2].copy()
    tgt[0, :] = 1
    payload = _encode_text_region(shape[1], shape[0], instances,
                                  symbols, refine={2: tgt})
    _, _, _, _, bm = _decode_text_region(payload, symbols)
    exp = np.zeros(shape, np.uint8)
    for i, (x, y, sid) in enumerate(instances):
        s = tgt if i == 2 else symbols[sid]
        hs, ws = s.shape
        exp[y:y + hs, x:x + ws] |= s[:shape[0] - y, :shape[1] - x]
    assert (bm == exp).all()


def test_refinement_tpgron_typical_prediction():
    """TPGRON=1 (T.88 6.3.5.6): per-row LTP toggle coded with the
    fixed SLTP context, typical pixels (uniform 3×3 reference
    neighborhood) taken from the reference without decoding. Bit-exact
    roundtrip at both templates, through the full segment path
    (rflags bit 1), and on document-shaped content the typical rows
    actually shrink the stream vs TPGRON=0."""
    import numpy as np
    from effocr_spark.synth.font import render_line
    from effocr_spark.synth.jbig2codec import (jbig2_decode_embedded,
                                               jbig2_encode_refined,
                                               refinement_region_decode,
                                               refinement_region_encode)

    rng = np.random.default_rng(9)
    ref = (rng.random((40, 60)) < 0.4).astype(np.uint8)
    bm = ref.copy()
    bm[10:14, 20:30] ^= 1
    for tmpl in (0, 1):
        data = refinement_region_encode(bm, ref, template=tmpl,
                                        tpgron=True)
        out = refinement_region_decode(data, 60, 40, ref,
                                       template=tmpl, tpgron=True)
        assert (out == bm).all(), tmpl

    # full segment path: degraded base + TPGRON refinement restores
    img, _, _ = render_line("tpgron refinement line")
    noisy = img.copy()
    flip = np.random.default_rng(10).random(img.shape) < 0.01
    noisy[flip] = 255 - noisy[flip]
    stream = jbig2_encode_refined(noisy, img, tpgron=True)
    dec = jbig2_decode_embedded(stream)
    assert ((dec < 128) == (img < 128)).all()

    # document content (mostly flat): TPGRON beats per-pixel coding
    doc = (img < 128).astype(np.uint8)
    base = doc.copy()
    base[5:7, 10:20] ^= 1
    with_tp = refinement_region_encode(doc, base, tpgron=True)
    without = refinement_region_encode(doc, base)
    assert len(with_tp) < len(without)


def test_mmr_halftone_grayscale():
    """HMMR=1 (C.5): the Gray-coded halftone bitplanes decode from ONE
    continuous T.6 stream (no reset between planes — plane j's first
    row references plane j-1's last row); composite identical to the
    MQ-coded path on the same grayscale, through the region decoder
    AND the full embedded stream."""
    import numpy as np
    from effocr_spark.synth.jbig2codec import (decode_halftone_region,
                                               encode_halftone_region,
                                               jbig2_decode_embedded,
                                               jbig2_encode_halftone,
                                               make_dither_patterns)

    rng = np.random.default_rng(21)
    pats = make_dither_patterns(8, 4)
    gray = rng.integers(0, 8, (10, 14))
    _, _, _, _, bm_mmr = decode_halftone_region(
        encode_halftone_region(56, 40, gray, pats, mmr=True), pats)
    _, _, _, _, bm_mq = decode_halftone_region(
        encode_halftone_region(56, 40, gray, pats), pats)
    assert (bm_mmr == bm_mq).all()

    img = (rng.random((64, 96)) * 255).astype(np.uint8)
    a = jbig2_decode_embedded(jbig2_encode_halftone(img))
    b = jbig2_decode_embedded(jbig2_encode_halftone(img, mmr=True))
    assert (a == b).all()


def test_halftone_henableskip():
    """HENABLESKIP (6.6.5.1): grid cells whose pattern placement falls
    entirely outside the region are never coded — bitplane pixels
    forced 0 on both sides. Composite identical to the no-skip encode
    of the same shifted grid, with a strictly smaller stream."""
    import numpy as np
    from effocr_spark.synth.jbig2codec import (decode_halftone_region,
                                               encode_halftone_region,
                                               make_dither_patterns)

    rng = np.random.default_rng(22)
    pats = make_dither_patterns(8, 4)
    gray = rng.integers(0, 8, (10, 14))
    with_skip = encode_halftone_region(48, 32, gray, pats,
                                       grid_offset=(-4, -4),
                                       enableskip=True)
    without = encode_halftone_region(48, 32, gray, pats,
                                     grid_offset=(-4, -4))
    _, _, _, _, bm_a = decode_halftone_region(with_skip, pats)
    _, _, _, _, bm_b = decode_halftone_region(without, pats)
    assert (bm_a == bm_b).all()
    assert len(with_skip) < len(without)


def test_huffman_text_region_refine_and_transposed():
    """SBHUFF=1 REFINE instances (6.4.11 huffman mode): RI bit per
    instance, RDW/RDH/RDX/RDY via CUSTOM type-53 tables (B.14/B.15
    stay named seams), BMSIZE via B.1, byte-aligned MQ refinement
    stream — refined instance replaces its symbol with the exact
    target bitmap through the FULL embedded stream; transposed
    placement shares the arithmetic path's corner math."""
    import numpy as np
    from effocr_spark.synth.jbig2huff import (jbig2_encode_text_huffman,
                                              parse_code_table)
    from effocr_spark.synth.jbig2codec import jbig2_decode_embedded

    rng = np.random.default_rng(23)
    # width-ascending within the height class (the SDHUFF DW-delta
    # ordering the huffman symbol dict requires)
    syms = [(rng.random((8, 5)) < 0.4).astype(np.uint8),
            (rng.random((8, 6)) < 0.5).astype(np.uint8)]
    tgt = (rng.random((9, 7)) < 0.5).astype(np.uint8)
    insts = [(2, 1, 0), (12, 1, 1), (24, 1, 0)]
    stream = jbig2_encode_text_huffman((16, 48), syms, insts,
                                       refinements={(24, 1, 0): tgt})
    dec = jbig2_decode_embedded(stream)
    exp = np.zeros((16, 48), np.uint8)
    for xx, yy, sid in insts[:2]:
        s = syms[sid]
        exp[yy:yy + s.shape[0], xx:xx + s.shape[1]] |= s
    exp[1:10, 24:31] |= tgt
    assert ((dec < 128).astype(np.uint8) == exp).all()


def test_striped_page_wider_than_953px_decodes():
    """r6 ADVICE: the bomb guard ran before the striped-height sentinel
    check, so any striped page wider than ~953 px quarantined. Striped
    pages must decode at letter-scan widths; growth is bounded by the
    page-alloc guard instead."""
    import struct
    import numpy as np
    from effocr_spark.synth import jbig2codec as J

    img = np.full((30, 1200), 255, np.uint8)
    img[10:20, 100:1100] = 0
    blob = bytearray(J.jbig2_encode_embedded(img))
    hdr_len = len(J._segment_header(0, J._SEG_PAGE_INFO, 1, 19))
    struct.pack_into(">I", blob, hdr_len + 4, 0xFFFFFFFF)  # striped
    out = J.jbig2_decode_embedded(bytes(blob))
    assert out.shape == (30, 1200)
    assert out[12, 500] < 128


def test_striped_page_huge_region_offset_quarantines():
    """A region placed at ry=2^30 on a striped page must raise (page
    allocation bomb), never allocate a billion-row page buffer."""
    import struct
    import numpy as np
    import pytest
    from effocr_spark.synth import jbig2codec as J

    img = np.full((30, 1200), 255, np.uint8)
    blob = bytearray(J.jbig2_encode_embedded(img))
    hdr_len = len(J._segment_header(0, J._SEG_PAGE_INFO, 1, 19))
    struct.pack_into(">I", blob, hdr_len + 4, 0xFFFFFFFF)
    reg_off = hdr_len + 19 + len(J._segment_header(
        1, J._SEG_IMM_LOSSLESS_GENERIC, 1, 1))
    struct.pack_into(">I", blob, reg_off + 12, 1 << 30)  # ry
    with pytest.raises(ValueError, match="implausible JBIG2 page"):
        J.jbig2_decode_embedded(bytes(blob))
