"""Baseline + progressive JPEG codec: lossy round trips (PSNR-gated), 4:4:4 and 4:2:0
sampling, grayscale, marker-level structure, quarantine seams, and the
multimodal integration."""

import struct

import numpy as np
import pytest

from effocr_spark.synth.font import render_line
from effocr_spark.synth.jpegcodec import (
    ZIGZAG, decode_jpeg, encode_jpeg, encode_jpeg_progressive, is_jpeg)


def _psnr(a, b):
    mse = ((a.astype(np.float64) - b.astype(np.float64)) ** 2).mean()
    return 10 * np.log10(255.0 ** 2 / max(mse, 1e-12))


def test_zigzag_is_a_permutation_with_known_prefix():
    assert sorted(ZIGZAG.tolist()) == list(range(64))
    # spec prefix: (0,0),(0,1),(1,0),(2,0),(1,1),(0,2),(0,3),(1,2)
    assert ZIGZAG[:8].tolist() == [0, 1, 8, 16, 9, 2, 3, 10]


@pytest.mark.parametrize("subsample", [False, True])
def test_round_trip_text_image(subsample):
    img, _, _ = render_line("The quick brown fox 1885")
    rgb = np.repeat(img[:, :, None], 3, axis=2)
    blob = encode_jpeg(rgb, subsample=subsample)
    assert is_jpeg(blob) and blob.endswith(b"\xff\xd9")
    back = decode_jpeg(blob)
    assert back.shape == rgb.shape
    assert _psnr(back, rgb) > 30.0


def test_round_trip_color_and_gray():
    rng = np.random.RandomState(4)
    smooth = np.zeros((40, 56, 3), np.uint8)
    smooth[..., 0] = np.linspace(10, 240, 56, dtype=np.uint8)[None, :]
    smooth[..., 1] = np.linspace(240, 10, 40, dtype=np.uint8)[:, None]
    smooth[..., 2] = 99
    assert _psnr(decode_jpeg(encode_jpeg(smooth)), smooth) > 34.0
    assert _psnr(decode_jpeg(encode_jpeg(smooth, subsample=True)),
                 smooth) > 30.0

    gray = (rng.standard_normal((24, 33)) * 20 + 128).astype(np.uint8)
    back = decode_jpeg(encode_jpeg(gray))
    assert back.shape == (24, 33, 3)
    assert _psnr(back[..., 0], gray) > 28.0
    # gray replicates across channels
    assert (back[..., 0] == back[..., 1]).all()


def test_decode_is_deterministic():
    img, _, _ = render_line("Determinism check line")
    blob = encode_jpeg(np.repeat(img[:, :, None], 3, axis=2))
    assert decode_jpeg(blob).tobytes() == decode_jpeg(blob).tobytes()


def test_non_multiple_of_block_sizes():
    for shape in ((9, 13, 3), (8, 8, 3), (17, 31, 3)):
        img = np.full(shape, 200, np.uint8)
        img[2:5, 3:7] = 30
        back = decode_jpeg(encode_jpeg(img, subsample=True))
        assert back.shape == shape
        assert _psnr(back, img) > 28.0


def test_quarantine_seams():
    with pytest.raises(ValueError):
        decode_jpeg(b"not a jpeg at all")
    # arithmetic-coded SOF9 → explicit library seam (progressive SOF2 is
    # now a REAL decode path, tested below)
    arith = (b"\xff\xd8\xff\xc9" + struct.pack(">H", 11)
             + b"\x08" + struct.pack(">HH", 8, 8) + b"\x01\x01\x11\x00")
    with pytest.raises(NotImplementedError):
        decode_jpeg(arith)
    # a progressive frame with no scans is structurally broken, not a seam
    noscan = (b"\xff\xd8\xff\xc2" + struct.pack(">H", 11)
              + b"\x08" + struct.pack(">HH", 8, 8) + b"\x01\x01\x11\x00"
              + b"\xff\xd9")
    with pytest.raises(ValueError, match="no scan"):
        decode_jpeg(noscan)


def test_media_features_decodes_jpeg(spark):
    from effocr_spark.operators.multimodal import media_features

    img, _, _ = render_line("Media feature jpeg line")
    rgb = np.repeat(img[:, :, None], 3, axis=2)
    rows = [(1, bytearray(encode_jpeg(rgb))),
            (2, bytearray(encode_jpeg(rgb, subsample=True)))]
    out = {r["id"]: r for r in media_features(
        spark.createDataFrame(rows, "id long, media binary")).collect()}
    for i in (1, 2):
        r = out[i]
        assert r["ok"] and r["media_type"] == "image/jpeg"
        assert (r["width"], r["height"]) == (rgb.shape[1], rgb.shape[0])
        assert abs(r["mean_luma"] - float(rgb.mean())) < 8.0


def test_jpeg_page_through_extraction(spark, protos_bc):
    """S1 parity: the reference globs *.png AND *.jpg — a JPEG page
    routes to the OCR branch and decodes to the exact text (the
    synthetic stack tolerates baseline-JPEG artifacts)."""
    from effocr_spark.pipeline import extract_pages

    texts = ["The quick brown fox jumps 1885", "County gazette report pays"]
    rows = []
    for i, t in enumerate(texts):
        img, _, _ = render_line(t)
        rgb = np.repeat(img[:, :, None], 3, axis=2)
        rows.append((f"jpg://{i}", None,
                     bytearray(encode_jpeg(rgb, subsample=i % 2 == 0)),
                     None, "en"))
    rows.append(("html://0", None, bytearray(b"<html><body><div><p>Dom text"
                                             b" here</p></div></body></html>"),
                 None, "en"))
    df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, "
              "lang string")
    out = {r["url"]: r for r in extract_pages(df, protos_bc).collect()}
    for i, t in enumerate(texts):
        r = out[f"jpg://{i}"]
        assert r["branch"] == "ocr" and r["ok"]
        assert r["extracted_text"] == t
    assert out["html://0"]["branch"] == "dom"


def test_embedded_jpeg_data_uri(spark, protos_bc):
    import base64

    from effocr_spark.pipeline import extract_pages

    img, _, _ = render_line("Jpeg inside html page")
    rgb = np.repeat(img[:, :, None], 3, axis=2)
    uri = ("data:image/jpeg;base64,"
           + base64.b64encode(encode_jpeg(rgb)).decode())
    html = (f"<html><body><div id='m'><p>Dom body</p>"
            f"<img src=\"{uri}\"></div></body></html>").encode()
    df = spark.createDataFrame(
        [("u", None, bytearray(html), None, "en")],
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string")
    out = extract_pages(df, protos_bc, embedded_images=True).collect()[0]
    assert out["extracted_text"] == "Dom body\nJpeg inside html page"


def test_single_component_scan_ignores_sampling_factors():
    """T.81 A.2: a single-component scan is non-interleaved (MCU = one
    data unit) even if the SOF declares 2x2 sampling factors — patch a
    grayscale JPEG's SOF hv byte from 0x11 to 0x22 and the decode must
    not change (was: garbled MCU grid)."""
    rng = np.random.RandomState(7)
    gray = (rng.standard_normal((24, 40)) * 25 + 128).astype(np.uint8)
    blob = encode_jpeg(gray)
    sof = blob.find(b"\xff\xc0")
    assert sof >= 0 and blob[sof + 11] == 0x11  # nc=1 comp hv byte
    patched = blob[:sof + 11] + b"\x22" + blob[sof + 12:]
    assert decode_jpeg(patched).tobytes() == decode_jpeg(blob).tobytes()


def test_bitreader_truncation_is_a_clean_parse_error():
    """A restart marker hit with too few buffered bits raises an explicit
    truncation error, not a confusing negative-shift ValueError."""
    from effocr_spark.synth.jpegcodec import _BitReader
    br = _BitReader(b"\xff\xd0\xff\xd9", 0)  # RST0 immediately
    with pytest.raises(ValueError, match="truncated entropy-coded"):
        br.read(4)


def test_huffman_lookahead_matches_the_bit_loop():
    """One code per length 1-16: codes up to 9 bits come from the
    lookahead table, longer ones from the bit loop; both decode the
    same symbols as a table with the lookahead switched off, through
    0xFF stuffing, and a code cut short by an RST marker (fewer than 9
    bits buffered) falls back to the loop and ends cleanly."""
    from effocr_spark.synth.jpegcodec import (_BitReader, _BitWriter,
                                              _HuffTable)

    bits = [0] + [1] * 16
    values = bytes(range(40, 56))
    codes, code = [], 0
    for length in range(1, 17):
        codes.append((code, length))
        code = (code + 1) << 1
    rng = np.random.RandomState(5)
    syms = rng.randint(0, 16, 3000).tolist()
    bw = _BitWriter()
    for s_ in syms:
        bw.write(*codes[s_])
    bw.flush()
    data = bytes(bw.out) + b"\xff\xd9"
    assert b"\xff\x00" in data  # stuffing exercised
    fast = _HuffTable(bits, values)
    slow = _HuffTable(bits, values)
    slow.lookup = [0] * len(slow.lookup)
    want = [values[s_] for s_ in syms]
    for tab in (fast, slow):
        br = _BitReader(data, 0)
        assert [tab.decode(br) for _ in syms] == want
    # a 10-bit code cut by RST0 after its first 8 bits (one stuffed
    # 0xFF byte): the loop runs dry instead of reading past the marker
    br = _BitReader(b"\xff\x00\xff\xd0", 0)
    with pytest.raises(ValueError, match="truncated entropy-coded"):
        fast.decode(br)


# ---------------------------------------------------------- progressive

PROG_CONFIGS = [
    # (h, w, gray, subsample, restart_interval)
    (16, 16, False, False, 0),
    (17, 23, False, False, 0),   # non-multiple-of-8 dims
    (33, 47, False, True, 0),    # 4:2:0 with MCU padding + dummy blocks
    (20, 20, True, False, 0),    # grayscale (single-component DC scan)
    (40, 56, False, False, 4),   # restart markers in every scan
    (48, 48, False, True, 3),    # 4:2:0 + restarts
]


@pytest.mark.parametrize("h,w,gray,sub,ri", PROG_CONFIGS)
def test_progressive_decode_bitwise_equals_baseline(h, w, gray, sub, ri):
    """A fully-refined progressive stream reconstructs the SAME quantized
    coefficients as the baseline stream of the same image, so the decode
    must be bitwise identical — DC successive approximation, AC spectral
    selection, both refinement passes, EOB runs and restarts included."""
    rng = np.random.RandomState(h * 100 + w)
    shape = (h, w) if gray else (h, w, 3)
    img = rng.randint(0, 256, shape, np.uint8)
    base = decode_jpeg(encode_jpeg(img, subsample=sub))
    blob = encode_jpeg_progressive(img, subsample=sub, restart_interval=ri)
    assert blob[3] == 0xE0 and b"\xff\xc2" in blob  # really SOF2
    assert np.array_equal(decode_jpeg(blob), base)


def test_progressive_sparse_spectrum_zrl_and_eob_paths():
    """A nearly-flat image with isolated detail produces long zero runs:
    exercises ZRL (run>15) in first scans, EOB-run correction-bit
    handling in refinement scans."""
    img = np.full((32, 32, 3), 180, np.uint8)
    img[5, 7] = (20, 240, 90)    # lone impulse → dense high-freq, sparse rest
    img[20:22, :] = 60           # horizontal bar → sparse vertical freqs
    base = decode_jpeg(encode_jpeg(img))
    assert np.array_equal(decode_jpeg(encode_jpeg_progressive(img)), base)


def test_progressive_text_render_psnr():
    """The realistic payload: a rendered OCR line through the progressive
    path keeps the same PSNR as baseline (it is the same math)."""
    img, _, _ = render_line("Progressive web JPEG 1885")
    rgb = np.repeat(img[:, :, None], 3, axis=2)
    out = decode_jpeg(encode_jpeg_progressive(rgb))
    assert out.shape == rgb.shape
    assert _psnr(out, rgb) > 30.0


def test_progressive_truncated_scan_raises():
    """Cutting the stream mid-scan must raise (→ ok=False quarantine in
    media_features), not return garbage silently."""
    img = np.full((24, 24, 3), 128, np.uint8)
    img[4:9, 3:14] = 20
    blob = encode_jpeg_progressive(img)
    sos_positions = [i for i in range(len(blob) - 1)
                     if blob[i] == 0xFF and blob[i + 1] == 0xDA]
    cut = blob[: sos_positions[2] + 8]  # inside the 3rd scan header
    with pytest.raises((ValueError, IndexError, struct.error)):
        decode_jpeg(cut)


def test_progressive_page_through_extraction(spark, protos_bc):
    """A progressive-JPEG page routes through the OCR branch and decodes
    to the exact text — the web's dominant large-JPEG encoding is a
    first-class extraction input, not a quarantine row."""
    from effocr_spark.pipeline import extract_pages

    text = "Progressive newspaper scan 1885"
    img, _, _ = render_line(text)
    rgb = np.repeat(img[:, :, None], 3, axis=2)
    df = spark.createDataFrame(
        [("prog://0", None, bytearray(encode_jpeg_progressive(rgb)),
          None, "en")],
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string")
    out = extract_pages(df, protos_bc).collect()[0]
    assert out["branch"] == "ocr" and out["ok"]
    assert out["extracted_text"] == text


def test_12bit_grayscale_roundtrip():
    """12-bit-precision extended sequential (SOF1, 16-bit DQT, level
    shift 2048) — the scanned-archive shape — decodes through the same
    path, scaled to the pipeline's 8-bit output."""
    import math

    import numpy as np

    from effocr_spark.synth.font import render_line
    from effocr_spark.synth.jpegcodec import (decode_jpeg,
                                              encode_jpeg_12bit)

    img8 = render_line("twelve bit precision line")[0]
    img12 = (img8.astype(np.uint32) * 4095 // 255).astype(np.uint16)
    d = decode_jpeg(encode_jpeg_12bit(img12))[:, :, 0].astype(float)
    err = np.abs(d - img8.astype(float))
    psnr = 10 * math.log10(255 ** 2 / max((err ** 2).mean(), 1e-9))
    assert psnr > 30, psnr

    # flat fields hit the endpoints exactly
    for val, exp in ((0, 0), (4095, 255), (3000, 187)):
        flat = np.full((8, 8), val, np.uint16)
        got = decode_jpeg(encode_jpeg_12bit(flat))[0, 0, 0]
        assert abs(int(got) - exp) <= 1, (val, got)

    # a smooth 12-bit gradient survives with sub-8-bit error
    grad = np.tile(np.linspace(0, 4095, 256).astype(np.uint16), (16, 1))
    d2 = decode_jpeg(encode_jpeg_12bit(grad))[:, :, 0].astype(float)
    exp2 = grad.astype(float) * 255 / 4095
    assert np.abs(d2 - exp2).max() < 8


def test_12bit_color_and_progressive_stay_seams():
    import struct

    import numpy as np
    import pytest as _pytest

    from effocr_spark.synth.jpegcodec import (decode_jpeg,
                                              encode_jpeg_12bit)

    blob = encode_jpeg_12bit(np.full((8, 8), 100, np.uint16))
    # rewrite SOF1 to claim 3 components → must raise, not garble
    i = blob.find(b"\xff\xc1")
    bad = bytearray(blob)
    bad[i + 9] = 3
    with _pytest.raises((NotImplementedError, ValueError)):
        decode_jpeg(bytes(bad))


def test_12bit_color_sequential_and_progressive():
    """12-bit color (SOF1, 3 components, chroma centered at 2048) and
    12-bit progressive (SOF2: interleaved DC scan + per-component
    full-spectral AC scans) decode; fully-coded progressive output is
    BITWISE equal to the sequential encode of the same image."""
    import numpy as np
    from effocr_spark.synth.jpegcodec import (decode_jpeg,
                                              encode_jpeg_12bit,
                                              encode_jpeg_12bit_ext)

    x = np.linspace(0, 4095, 40)[None, :] + np.linspace(0, 500, 24)[:, None]
    img = np.clip(np.stack([x, 4095 - x, x * 0.5 + 1000], axis=-1),
                  0, 4095).astype(np.uint16)
    seq = encode_jpeg_12bit_ext(img)
    assert b"\xff\xc1" in seq  # SOF1
    out_seq = decode_jpeg(seq)
    assert out_seq.shape == (24, 40, 3) and out_seq.dtype == np.uint8
    exp = img.astype(np.float64) * (255.0 / 4095.0)
    mse = ((out_seq.astype(np.float64) - exp) ** 2).mean()
    assert 10 * np.log10(255 ** 2 / mse) > 30

    prog = encode_jpeg_12bit_ext(img, progressive=True)
    assert b"\xff\xc2" in prog  # SOF2
    assert (decode_jpeg(prog) == out_seq).all()

    g = (x * np.linspace(1, 0.3, 24)[:, None]).astype(np.uint16)
    assert (decode_jpeg(encode_jpeg_12bit_ext(g))
            == decode_jpeg(encode_jpeg_12bit_ext(g, progressive=True))
            ).all()
    # the legacy grayscale-sequential encoder decodes identically
    assert (decode_jpeg(encode_jpeg_12bit(g))
            == decode_jpeg(encode_jpeg_12bit_ext(g))).all()


def test_lossless_sof3_roundtrip_all_predictors():
    """SOF3 huffman lossless: bit-exact roundtrip for every T.81 H.1
    predictor, grayscale and direct-RGB color."""
    import numpy as np
    from effocr_spark.synth.jpegcodec import (decode_jpeg,
                                              encode_jpeg_lossless)

    rng = np.random.default_rng(4)
    g = rng.integers(0, 256, (24, 37), dtype=np.uint8)
    for pred in range(1, 8):
        blob = encode_jpeg_lossless(g, predictor=pred)
        assert b"\xff\xc3" in blob
        assert (decode_jpeg(blob)[:, :, 0] == g).all(), pred
    c = rng.integers(0, 256, (19, 21, 3), dtype=np.uint8)
    assert (decode_jpeg(encode_jpeg_lossless(c, predictor=4)) == c).all()
