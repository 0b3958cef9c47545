"""JPEG2000 (T.800) codec: the reversible path is LOSSLESS, so every
roundtrip asserts bit equality — the strongest possible pin for a
from-scratch wavelet + EBCOT + tier-2 stack."""

import numpy as np
import pytest


def test_dwt53_roundtrip_arbitrary_sizes():
    from effocr_spark.synth.jp2codec import dwt53_forward, dwt53_inverse

    rng = np.random.default_rng(0)
    for shape, lv in (((16, 16), 2), ((17, 23), 3), ((5, 9), 2),
                      ((64, 48), 3), ((1, 7), 1)):
        img = rng.integers(-1000, 1000, shape).astype(np.int64)
        assert (dwt53_inverse(dwt53_forward(img, lv)) == img).all()


def test_ebcot_block_roundtrip_all_bands():
    from effocr_spark.synth.jp2codec import (ebcot_decode_block,
                                             ebcot_encode_block)

    rng = np.random.default_rng(1)
    for band in ("LL", "HL", "LH", "HH"):
        for shape in ((4, 4), (16, 16), (7, 13), (1, 5), (64, 64)):
            coefs = (rng.integers(-200, 200, shape)
                     * (rng.random(shape) < 0.3))
            data, n_planes, n_passes = ebcot_encode_block(coefs, band)
            if n_planes == 0:
                assert (coefs == 0).all()
                continue
            out = ebcot_decode_block(data, shape[1], shape[0], band,
                                     n_planes, n_passes)
            assert (out == coefs).all(), (band, shape)


def _table_d1(band, h, v, d):
    """T.800 Table D.1 row by row: significance context from the
    counts of significant horizontal, vertical and diagonal
    neighbours (HL swaps the H and V columns)."""
    if band == "HL":
        h, v = v, h
    if band == "HH":
        hv = h + v
        rows = [(d >= 3, 8), (d == 2 and hv >= 1, 7), (d == 2, 6),
                (d == 1 and hv >= 2, 5), (d == 1 and hv == 1, 4),
                (d == 1, 3), (hv >= 2, 2), (hv == 1, 1)]
    else:
        rows = [(h == 2, 8), (h == 1 and v >= 1, 7),
                (h == 1 and d >= 1, 6), (h == 1, 5), (v == 2, 4),
                (v == 1, 3), (d >= 2, 2), (d == 1, 1)]
    return next((ctx for hit, ctx in rows if hit), 0)


@pytest.mark.parametrize("band", ["LL", "HL", "LH", "HH"])
def test_significance_context_is_table_d1(band):
    """Every subset of the 8 neighbours of a coefficient, made
    significant through the walker's own _set_sig, yields the Table
    D.1 context through the neighbour mask and the band's lookup, and
    the mask is 0 exactly when no neighbour is significant."""
    from effocr_spark.synth.jp2codec import _Coder

    offsets = [(-1, -1), (-1, 0), (-1, 1), (0, -1), (0, 1), (1, -1),
               (1, 0), (1, 1)]
    for subset in range(256):
        coder = _Coder(3, 3, band, 1)
        centre = 2 * coder.stride + 2
        on = [(dy, dx) for k, (dy, dx) in enumerate(offsets)
              if subset >> k & 1]
        for dy, dx in on:
            coder._set_sig(centre + dy * coder.stride + dx, 0)
        h = sum(1 for dy, dx in on if dy == 0)
        v = sum(1 for dy, dx in on if dx == 0)
        d = len(on) - h - v
        mask = coder.nbr[centre]
        assert (mask == 0) == (not on)
        assert coder.sig_ctx[mask] == _table_d1(band, h, v, d), on


def test_jp2_lossless_roundtrip_gray_color_raw_multiblock():
    from effocr_spark.synth.jp2codec import (decode_jp2, encode_jp2,
                                             is_jp2)

    rng = np.random.default_rng(2)
    g = rng.integers(0, 256, (40, 56), dtype=np.uint8)
    blob = encode_jp2(g, levels=2)
    assert is_jp2(blob)
    out = decode_jp2(blob)
    assert out.shape == (40, 56, 3) and (out[:, :, 0] == g).all()

    c = rng.integers(0, 256, (33, 47, 3), dtype=np.uint8)
    assert (decode_jp2(encode_jp2(c, levels=3)) == c).all()
    # raw codestream (no JP2 boxes) — the other form PDF carries
    raw = encode_jp2(c, levels=1, jp2_container=False)
    assert raw[:2] == b"\xff\x4f" and (decode_jp2(raw) == c).all()
    # multiple code-blocks per band
    big = rng.integers(0, 256, (100, 150), dtype=np.uint8)
    blob = encode_jp2(big, levels=2, cblk_exp=(4, 4))
    assert (decode_jp2(blob)[:, :, 0] == big).all()


def test_jp2_compresses_document_pages():
    """A document-shaped page (large flat background + a band of
    rendered text) compresses far below raw size — the tier-1 entropy
    coder is real, not a passthrough — and stays lossless."""
    from effocr_spark.synth.font import render_line
    from effocr_spark.synth.jp2codec import decode_jp2, encode_jp2

    line, _, _ = render_line("jpeg2000 compression check line")
    page = np.full((256, 256), 255, np.uint8)
    page[40:40 + line.shape[0], 10:10 + min(line.shape[1], 246)] = \
        line[:, :246]
    blob = encode_jp2(page, levels=3)
    assert len(blob) < page.size // 4, len(blob)
    assert (decode_jp2(blob)[:, :, 0] == page).all()


def test_jpx_pdf_images_end_to_end():
    from effocr_spark.functions.pdftext import extract_pdf_images
    from effocr_spark.synth.font import render_line
    from effocr_spark.synth.imgcodec import decode_png
    from effocr_spark.synth.pdfgen import make_jpx_pdf

    img, _, _ = render_line("jpeg2000 scanned page")
    imgs = extract_pdf_images(make_jpx_pdf([img]))
    assert len(imgs) == 1 and imgs[0][:8] == b"\x89PNG\r\n\x1a\n"
    out = decode_png(imgs[0])
    if out.ndim == 3:
        out = out[:, :, 0]
    assert (out == img).all()  # lossless through the whole PDF path

    rgb = np.repeat(img[:, :, None], 3, axis=2)
    imgs = extract_pdf_images(
        make_jpx_pdf([rgb], jp2_container=False, levels=1))
    assert (decode_png(imgs[0]) == rgb).all()


def test_jp2_unsupported_features_raise_named():
    from effocr_spark.synth.jp2codec import decode_jp2, encode_jp2

    blob = encode_jp2(np.zeros((16, 16), np.uint8), levels=1,
                      jp2_container=False)
    # an unknown transform id raises (9/7 — the old example — decodes
    # for real now)
    cod_at = blob.find(b"\xff\x52")
    badt = bytearray(blob)
    badt[cod_at + 2 + 2 + 9] = 5  # transform byte inside COD body
    with pytest.raises(NotImplementedError, match="transform"):
        decode_jp2(bytes(badt))
    prog = bytearray(blob)
    prog[cod_at + 2 + 2 + 1] = 5  # out-of-range progression id (all
    # five real orders LRCP/RLCP/RPCL/PCRL/CPRL decode now)
    with pytest.raises(NotImplementedError, match="progression"):
        decode_jp2(bytes(prog))
    with pytest.raises(ValueError):
        decode_jp2(b"\x00\x00\x00\x0cjQ  garbage")


def test_jp2_page_routes_to_ocr_branch(spark, protos_bc):
    """A page whose body is a standalone JP2 (box container or raw
    codestream) routes to the OCR branch and extracts its rendered
    text exactly (lossless decode → identical pixels)."""
    from effocr_spark.pipeline import extract_pages
    from effocr_spark.synth.font import render_line
    from effocr_spark.synth.jp2codec import encode_jp2

    img, _, _ = render_line("jp2 page routes to ocr")
    rows = [("jp2://box/0", None, bytearray(encode_jp2(img)), None,
             "en"),
            ("jp2://raw/0", None,
             bytearray(encode_jp2(img, jp2_container=False)), None,
             "en")]
    df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, "
              "text string, lang string")
    for r in extract_pages(df, protos_bc).collect():
        assert r["branch"] == "ocr" and r["ok"]
        assert r["extracted_text"] == "jp2 page routes to ocr"


def test_jp2_irreversible_97_path():
    """The LOSSY archive path: 9/7 float wavelet + ICT + scalar
    expounded quantization with midpoint dequantization. PSNR-pinned
    (smooth content near-transparent at fine steps; rate falls as the
    step coarsens) and the lossless path stays bit-exact."""
    from effocr_spark.synth.font import render_line
    from effocr_spark.synth.jp2codec import decode_jp2, encode_jp2

    x = np.linspace(0, 255, 64)[None, :] + np.linspace(0, 60, 48)[:, None]
    g = np.clip(x, 0, 255).astype(np.uint8)
    out = decode_jp2(encode_jp2(g, levels=3, irreversible=True))[:, :, 0]
    mse = ((out.astype(float) - g) ** 2).mean()
    assert 10 * np.log10(255 ** 2 / max(mse, 1e-12)) > 50

    c = np.stack([g, 255 - g, (g * 0.7 + 30).astype(np.uint8)], axis=-1)
    out = decode_jp2(encode_jp2(c, levels=2, irreversible=True))
    mse = ((out.astype(float) - c) ** 2).mean()
    assert 10 * np.log10(255 ** 2 / mse) > 40

    # rate-distortion moves the right way on document content
    line, _, _ = render_line("lossy jp2 archive page")
    page = np.full((128, 256), 255, np.uint8)
    page[40:40 + line.shape[0], 10:10 + min(line.shape[1], 246)] = \
        line[:, :246]
    sizes, psnrs = [], []
    for d in (0.5, 8.0):
        blob = encode_jp2(page, levels=3, irreversible=True, delta=d)
        out = decode_jp2(blob)[:, :, 0]
        mse = ((out.astype(float) - page) ** 2).mean()
        sizes.append(len(blob))
        psnrs.append(10 * np.log10(255 ** 2 / max(mse, 1e-9)))
    assert sizes[1] < sizes[0] and psnrs[1] < psnrs[0]
    assert psnrs[1] > 30  # still readable at the coarse step

    rng = np.random.default_rng(3)
    r = rng.integers(0, 256, (30, 41, 3), dtype=np.uint8)
    assert (decode_jp2(encode_jp2(r)) == r).all()


def test_jp2_multi_layer_decode():
    """Quality-progressive streams: ≤64 LRCP layers with per-precinct
    persistent packet state; code-blocks first-include in later layers
    and one block's codeword bytes SPLIT across two layers
    (chunk concatenation) — all bit-exact on the lossless path."""
    from effocr_spark.synth.jp2codec import decode_jp2, encode_jp2

    rng = np.random.default_rng(5)
    img = rng.integers(0, 256, (70, 90), dtype=np.uint8)
    for nl in (2, 3):
        blob = encode_jp2(img, levels=2, cblk_exp=(4, 4), n_layers=nl)
        assert (decode_jp2(blob)[:, :, 0] == img).all(), nl
    c = rng.integers(0, 256, (33, 47, 3), dtype=np.uint8)
    assert (decode_jp2(encode_jp2(c, n_layers=2)) == c).all()


def test_jp2_multi_tile_decode():
    """Tiled codestreams (raster tile grid with ragged edges, per-tile
    SOT/Psot spans) decode bit-exactly on the lossless path, composed
    with multi-layer and lossy modes."""
    from effocr_spark.synth.jp2codec import decode_jp2, encode_jp2

    rng = np.random.default_rng(6)
    img = rng.integers(0, 256, (70, 90), dtype=np.uint8)
    blob = encode_jp2(img, levels=2, cblk_exp=(4, 4), tile_size=32)
    assert (decode_jp2(blob)[:, :, 0] == img).all()
    c = rng.integers(0, 256, (50, 66, 3), dtype=np.uint8)
    assert (decode_jp2(encode_jp2(c, levels=1, tile_size=32)) == c).all()
    assert (decode_jp2(encode_jp2(img, levels=2, cblk_exp=(4, 4),
                                  tile_size=32, n_layers=2))[:, :, 0]
            == img).all()
    out = decode_jp2(encode_jp2(img, levels=2, tile_size=32,
                                irreversible=True))[:, :, 0]
    mse = ((out.astype(float) - img) ** 2).mean()
    assert 10 * np.log10(255 ** 2 / max(mse, 1e-12)) > 50


def test_jp2_image_and_tile_offsets():
    """SIZ image-region offsets (XOsiz/YOsiz — the scanner-output
    shape) and tile-grid offsets (XTOsiz/YTOsiz ≤ image offsets):
    bit-exact lossless roundtrip at region size, composed with
    multi-tile, multi-layer and the lossy path; unaligned offsets
    stay a NAMED seam (canvas-parity band layout)."""
    from effocr_spark.synth.jp2codec import decode_jp2, encode_jp2

    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, size=(37, 53), dtype=np.uint8)
    rgb = rng.integers(0, 256, size=(40, 48, 3), dtype=np.uint8)
    for off in [(4, 8), (12, 4), (16, 16)]:
        out = decode_jp2(encode_jp2(img, offsets=off))
        assert out.shape[:2] == img.shape and (out[:, :, 0] == img).all()
    # offset tile GRID anchored before the image region
    out = decode_jp2(encode_jp2(rgb, tile_size=16, offsets=(8, 4),
                                tile_offsets=(4, 0)))
    assert (out == rgb).all()
    # multi-layer + offsets
    out = decode_jp2(encode_jp2(img, offsets=(8, 8), n_layers=3))
    assert (out[:, :, 0] == img).all()
    # unaligned offset: named seam on encode AND decode
    with pytest.raises(NotImplementedError, match="offsets"):
        encode_jp2(img, offsets=(3, 0))
    blob = encode_jp2(img, offsets=(4, 4), jp2_container=False)
    siz_at = blob.find(b"\xff\x51")
    bad = bytearray(blob)
    bad[siz_at + 4 + 2 + 8 + 3] = 5  # XOsiz 4 → 5 (odd parity)
    with pytest.raises((NotImplementedError, ValueError)):
        decode_jp2(bytes(bad))


def test_jp2_rlcp_rpcl_progressions():
    """RLCP and RPCL packet progressions (COD byte + real packet
    reordering): bit-exact across multi-layer, multi-tile, color and
    the 9/7 lossy path; single-layer streams are order-identical by
    construction but carry the right COD byte."""
    from effocr_spark.synth.jp2codec import decode_jp2, encode_jp2

    rng = np.random.default_rng(12)
    img = rng.integers(0, 256, size=(33, 41), dtype=np.uint8)
    rgb = rng.integers(0, 256, size=(32, 40, 3), dtype=np.uint8)
    for p in ("RLCP", "RPCL"):
        out = decode_jp2(encode_jp2(img, n_layers=3, progression=p))
        assert (out[:, :, 0] == img).all(), p
        out = decode_jp2(encode_jp2(rgb, n_layers=4, tile_size=32,
                                    progression=p))
        assert (out == rgb).all(), p
        blob = encode_jp2(img, n_layers=2, progression=p,
                          jp2_container=False)
        cod_at = blob.find(b"\xff\x52")
        assert blob[cod_at + 4 + 1] == {"RLCP": 1, "RPCL": 2}[p]
    # offsets + RPCL + lossy compose
    out = decode_jp2(encode_jp2(rgb, irreversible=True, n_layers=2,
                                progression="RPCL", offsets=(4, 4)))
    mse = ((out.astype(float) - rgb) ** 2).mean()
    assert 10 * np.log10(255 ** 2 / max(mse, 1e-12)) > 40


def test_jp2_sop_eph_markers():
    """SOP packet-sequence segments (A.8.1) and EPH end-of-packet-
    header markers (A.8.2) — the resilience markers Kakadu-style
    encoders emit by default: Scod bits 1/2, a 6-byte SOP before every
    packet, EPH between header and body. Bit-exact composed with
    multi-layer, multi-tile, offsets and RPCL; a truncated COD that
    sets the precinct bit without precinct bytes raises."""
    import struct

    from effocr_spark.synth.jp2codec import decode_jp2, encode_jp2

    rng = np.random.default_rng(13)
    img = rng.integers(0, 256, (37, 53), dtype=np.uint8)
    rgb = rng.integers(0, 256, (40, 48, 3), dtype=np.uint8)
    blob = encode_jp2(img, sop_eph=True, jp2_container=False)
    cod_at = blob.find(b"\xff\x52")
    assert blob[cod_at + 4] == 0x06  # Scod: SOP + EPH
    assert b"\xff\x91" in blob and b"\xff\x92" in blob
    # first SOP carries sequence number 0
    sop_at = blob.find(b"\xff\x91")
    assert struct.unpack_from(">HH", blob, sop_at + 2) == (4, 0)
    assert (decode_jp2(blob)[:, :, 0] == img).all()
    assert (decode_jp2(encode_jp2(rgb, sop_eph=True, n_layers=3,
                                  tile_size=32)) == rgb).all()
    assert (decode_jp2(encode_jp2(rgb, sop_eph=True, n_layers=2,
                                  progression="RPCL",
                                  offsets=(4, 4))) == rgb).all()
    # the precinct bit without the per-resolution size bytes is a
    # malformed COD, not a seam (precincts decode for real now)
    bad = bytearray(blob)
    bad[cod_at + 4] = 0x01
    with pytest.raises(ValueError, match="precinct size"):
        decode_jp2(bytes(bad))


def test_jp2_custom_precincts():
    """Custom precinct partitions (Scod bit 0, per-resolution PPx/PPy
    in COD): multiple precincts per resolution each carry their own
    packets with precinct-local tag trees; position loops in every
    progression become real; precinct-in-band smaller than the
    code-block shrinks the effective block size (B.7). Bit-exact
    composed with layers, tiles, offsets, SOP/EPH and the lossy
    path; the default (no Scod bit) stays the single 2^15 precinct."""
    from effocr_spark.synth.jp2codec import decode_jp2, encode_jp2

    rng = np.random.default_rng(14)
    img = rng.integers(0, 256, (70, 100), dtype=np.uint8)
    rgb = rng.integers(0, 256, (80, 120, 3), dtype=np.uint8)
    blob = encode_jp2(img, precincts=(5, 5), cblk_exp=(4, 4),
                      jp2_container=False)
    cod_at = blob.find(b"\xff\x52")
    assert blob[cod_at + 4] & 0x01  # Scod precinct bit
    # COD carries levels+1 precinct size bytes (PPx | PPy<<4)
    assert blob[cod_at + 12 + 2] == (5 | (5 << 4))
    assert (decode_jp2(blob)[:, :, 0] == img).all()
    for p in ("LRCP", "RLCP", "RPCL"):
        out = decode_jp2(encode_jp2(rgb, precincts=(5, 5),
                                    cblk_exp=(4, 4), n_layers=3,
                                    progression=p))
        assert (out == rgb).all(), p
    # tiles + offsets + precincts
    out = decode_jp2(encode_jp2(rgb, precincts=(4, 4),
                                cblk_exp=(3, 3), tile_size=64,
                                offsets=(4, 4)))
    assert (out == rgb).all()
    # precinct smaller than nominal code-block → effective shrink
    out = decode_jp2(encode_jp2(img, precincts=(3, 3),
                                cblk_exp=(5, 5)))
    assert (out[:, :, 0] == img).all()
    # asymmetric precincts + SOP/EPH + lossy
    out = decode_jp2(encode_jp2(rgb, precincts=(5, 4),
                                irreversible=True, sop_eph=True,
                                n_layers=2))
    mse = ((out.astype(float) - rgb) ** 2).mean()
    assert 10 * np.log10(255 ** 2 / max(mse, 1e-9)) > 40


def test_jp2_pcrl_cprl_progressions():
    """The position-major progressions (PCRL/CPRL, B.12): precincts
    interleave spatially across resolutions by tile-coordinate origin
    (res origin × 2^(levels−r)). Bit-exact with multi-layer, custom
    precincts, tiles and SOP/EPH; COD byte carries ids 3/4."""
    from effocr_spark.synth.jp2codec import decode_jp2, encode_jp2

    rng = np.random.default_rng(15)
    img = rng.integers(0, 256, (70, 100), dtype=np.uint8)
    rgb = rng.integers(0, 256, (80, 120, 3), dtype=np.uint8)
    for p, pid in (("PCRL", 3), ("CPRL", 4)):
        blob = encode_jp2(img, progression=p, n_layers=2,
                          jp2_container=False)
        cod_at = blob.find(b"\xff\x52")
        assert blob[cod_at + 4 + 1] == pid
        assert (decode_jp2(blob)[:, :, 0] == img).all(), p
        out = decode_jp2(encode_jp2(rgb, progression=p,
                                    precincts=(5, 5), cblk_exp=(4, 4),
                                    n_layers=3))
        assert (out == rgb).all(), p
        out = decode_jp2(encode_jp2(rgb, progression=p,
                                    precincts=(4, 4), cblk_exp=(3, 3),
                                    tile_size=64, sop_eph=True))
        assert (out == rgb).all(), p


def test_jp2_qcc_per_component_quantization():
    """QCC markers (per-component quantization override — the
    chroma-coarser-than-luma shape real lossy encoders emit): chroma
    components decode through their OWN (ε, μ) tables; the stream
    shrinks vs uniform fine quantization while PSNR stays high, and
    the lossless/regression paths are untouched; COC remains a named
    seam and mixed quant styles raise."""
    from effocr_spark.synth.jp2codec import decode_jp2, encode_jp2

    x = np.linspace(0, 255, 64)[None, :] + np.linspace(0, 60, 48)[:, None]
    g = np.clip(x, 0, 255).astype(np.uint8)
    rgb = np.stack([g, 255 - g, (g * 0.7 + 30).astype(np.uint8)],
                   axis=-1)
    blob = encode_jp2(rgb, irreversible=True, delta=1 / 32,
                      chroma_delta=1.0)
    assert b"\xff\x5d" in blob  # QCC markers present
    out = decode_jp2(blob)
    mse = ((out.astype(float) - rgb) ** 2).mean()
    assert 10 * np.log10(255 ** 2 / max(mse, 1e-12)) > 35
    uni = encode_jp2(rgb, irreversible=True, delta=1 / 32)
    assert len(blob) < len(uni)  # coarser chroma actually saves bits
    # composes with precincts + layers + RPCL
    out2 = decode_jp2(encode_jp2(rgb, irreversible=True, delta=1 / 32,
                                 chroma_delta=1.0, precincts=(5, 5),
                                 cblk_exp=(4, 4), n_layers=2,
                                 progression="RPCL"))
    mse2 = ((out2.astype(float) - rgb) ** 2).mean()
    assert 10 * np.log10(255 ** 2 / max(mse2, 1e-12)) > 35
    # COC stays a named seam
    import struct
    raw = bytearray(encode_jp2(g, jp2_container=False))
    qcd_at = bytes(raw).find(b"\xff\x5c")
    coc = b"\xff\x53" + struct.pack(">HB", 4, 0) + b"\x00"
    raw[qcd_at:qcd_at] = coc
    with pytest.raises(NotImplementedError, match="COC"):
        decode_jp2(bytes(raw))


def test_jp2_header_markers_fail_closed_not_silently():
    """Markers that CHANGE decoding can't be silently skipped:
    a tile-part COD/COC/QCD (tile-scoped overrides) and main-header
    POC/PPM/RGN raise named; informational COM in a tile header and
    TLM/PLM/COM in the main header are tolerated."""
    import struct

    from effocr_spark.synth.jp2codec import decode_jp2, encode_jp2

    rng = np.random.default_rng(16)
    img = rng.integers(0, 256, (30, 40), dtype=np.uint8)
    blob = encode_jp2(img, jp2_container=False)
    sot = blob.find(b"\xff\x90")

    def insert_tile_marker(seg):
        patched = bytearray(blob[:sot + 12] + seg + blob[sot + 12:])
        psot = struct.unpack_from(">I", patched, sot + 6)[0]
        struct.pack_into(">I", patched, sot + 6, psot + len(seg))
        return bytes(patched)

    com = b"\xff\x64" + struct.pack(">H", 6) + b"\x00\x01hi"
    assert (decode_jp2(insert_tile_marker(com))[:, :, 0] == img).all()
    tcod = b"\xff\x52" + struct.pack(">H", 12) + bytes(10)
    with pytest.raises(NotImplementedError, match="tile-part"):
        decode_jp2(insert_tile_marker(tcod))

    qcd_at = blob.find(b"\xff\x5c")
    poc = b"\xff\x5f" + struct.pack(">H", 9) + bytes(7)
    with pytest.raises(NotImplementedError, match="POC"):
        decode_jp2(blob[:qcd_at] + poc + blob[qcd_at:])
    # informational main-header COM tolerated
    mcom = b"\xff\x64" + struct.pack(">H", 8) + b"\x00\x01note"
    assert (decode_jp2(blob[:qcd_at] + mcom
                       + blob[qcd_at:])[:, :, 0] == img).all()


def test_jp2_ppt_packed_packet_headers():
    """PPT (A.7.2): packet headers concatenate into tile-part PPT
    segments (Zppt-ordered, 65000-byte chunks for long streams) while
    the post-SOD bitstream carries bodies only; SOP rides the body
    stream, EPH the packed headers. Bit-exact composed with layers,
    precincts, tiles, SOP/EPH and RPCL."""
    from effocr_spark.synth.jp2codec import decode_jp2, encode_jp2

    rng = np.random.default_rng(17)
    img = rng.integers(0, 256, (37, 53), dtype=np.uint8)
    rgb = rng.integers(0, 256, (40, 48, 3), dtype=np.uint8)
    blob = encode_jp2(img, packed_headers=True, jp2_container=False)
    assert b"\xff\x61" in blob
    assert (decode_jp2(blob)[:, :, 0] == img).all()
    assert (decode_jp2(encode_jp2(rgb, packed_headers=True,
                                  n_layers=3, precincts=(5, 5),
                                  cblk_exp=(4, 4))) == rgb).all()
    assert (decode_jp2(encode_jp2(rgb, packed_headers=True,
                                  tile_size=32, sop_eph=True,
                                  progression="RPCL",
                                  n_layers=2)) == rgb).all()


def test_jp2_rgn_maxshift_roi():
    """RGN ROI via Maxshift (Srgn=0): the encoder upshifts the
    region's coefficients past every background magnitude, the
    decoder separates by magnitude alone and downshifts — bit-exact
    lossless, gray and color, composed with quality layers; non-
    Maxshift RGN styles stay a named seam."""
    import struct

    from effocr_spark.synth.jp2codec import decode_jp2, encode_jp2

    rng = np.random.default_rng(18)
    img = rng.integers(0, 256, (40, 56), dtype=np.uint8)
    blob = encode_jp2(img, roi=(8, 8, 16, 12), jp2_container=False)
    assert b"\xff\x5e" in blob  # RGN marker present
    assert (decode_jp2(blob)[:, :, 0] == img).all()
    rgb = rng.integers(0, 256, (32, 48, 3), dtype=np.uint8)
    assert (decode_jp2(encode_jp2(rgb, roi=(0, 0, 16, 16),
                                  n_layers=2)) == rgb).all()
    # non-Maxshift RGN style fails closed
    bad = bytearray(blob)
    rgn_at = bytes(bad).find(b"\xff\x5e")
    bad[rgn_at + 5] = 1  # Srgn → 1
    with pytest.raises(NotImplementedError, match="Maxshift"):
        decode_jp2(bytes(bad))


def test_unaligned_tile_size_multi_tile_fails_closed():
    """r6 ADVICE: a multi-tile stream whose XTsiz is not 2^levels-
    aligned has interior tile origins with odd canvas parity — the
    local-coordinate band layout would silently decode wrong pixels, so
    the decoder must raise instead."""
    import struct
    import numpy as np
    import pytest
    from effocr_spark.synth import jp2codec

    blob = jp2codec.encode_jp2(np.full((40, 100), 255, np.uint8),
                               levels=1, tile_size=64)
    idx = bytes(blob).find(b"\xff\x51")  # SIZ
    off = idx + 2 + 2 + 2 + 16  # ... XTsiz
    patched = bytearray(blob)
    xts = struct.unpack_from(">I", patched, off)[0]
    struct.pack_into(">I", patched, off, xts + 1)
    with pytest.raises(NotImplementedError, match="tile size"):
        jp2codec.decode_jp2(bytes(patched))
