"""Decoded-pixel pins for the scan codec plane.

The codec round-trip tests cannot catch a context-model or table error
that an encoder and its decoder share (`jp2codec._Coder`,
`jbig2codec.MQEncoder`/`MQDecoder`, `jbig2codec._generic_code` serve
both sides), and the `extract_pdf_scanned` golden checks OCR text, not
pixels. These pins were recorded at commit b6f8b072 (before the
entropy decoders became table-driven), so any change to a decoded
pixel, or to an encoder's bytes, shows up here.

Each pin is (sha256[:32] of the bytes, decoded shape, sha256[:32] of
the decoded pixels' `tobytes()`):
- FIXTURE_PINS: every `extract_pdf_images` output of the 24 committed
  `data/pdf_scan_fixtures` PDFs (DCT images pass through as JPEG,
  CCITT/JBIG2/JPX come back as PNG), decoded with `decode_image`.
- CODEC_PINS: deterministic encoder outputs (baseline, 4:2:0,
  progressive with restart intervals, 12-bit progressive, lossless
  SOF3, JPEG2000 reversible/irreversible/3-level, JBIG2 generic
  templates 0-3 with and without TPGDON) and their decodes.
"""

import hashlib

import numpy as np
import pytest

from effocr_spark.functions.pdftext import extract_pdf_images
from effocr_spark.operators.extract import decode_image
from effocr_spark.synth.font import render_line
from effocr_spark.synth.jbig2codec import (generic_region_decode,
                                           generic_region_encode)
from effocr_spark.synth.jp2codec import decode_jp2, encode_jp2
from effocr_spark.synth.jpegcodec import (decode_jpeg, encode_jpeg,
                                          encode_jpeg_12bit_ext,
                                          encode_jpeg_lossless,
                                          encode_jpeg_progressive)
from effocr_spark.synth.pdf_scan_fixture_set import load_fixtures

FIXTURE_PINS = {
    "pdf://scan/00": [
        ("9dfbbb6bdc0e1531c52fff9ade3b0036", (18, 146, 3),
         "2373c2d954b12c70b12a03db540d509a"),
    ],
    "pdf://scan/01": [
        ("297df9f2f8ffe3215fbc9365efce340d", (18, 184, 3),
         "5b38b8ffb3cdd40407df7ebfbf50ecdf"),
        ("55adc32f2088b8fded47b305a3b01b8a", (18, 228, 3),
         "bedc1a5170453d8a34150a33e479c2e5"),
    ],
    "pdf://scan/02": [
        ("2b15e20b3f024fd94c4addb8d09aece3", (18, 197, 3),
         "8010f9f9987a4ea8a27ca6a026c094f7"),
    ],
    "pdf://scan/03": [
        ("e1ee6e05cb1e16783f00ae499d22cb7c", (18, 101, 3),
         "75ed1c4b1c55dde579ffe4f983f3b093"),
        ("0ffa0fb1cb4e646bbd5f9cf981259c62", (18, 149, 3),
         "4f6649245ab47cec51b9867415fb8331"),
    ],
    "pdf://scan/04": [
        ("af8f987c752a4b745ff769b6814fae1f", (18, 201, 3),
         "98d14ebd9e3147b1d837af398e9ae7fe"),
    ],
    "pdf://scan/05": [
        ("ebc6e0c3e488bc1de0445a9d52cbf9de", (18, 211, 3),
         "c9c814c08fc876d58d71730c2a5b810a"),
        ("d467186282b1fa91a4bdf78489141cf8", (18, 201, 3),
         "88ca9520efcf41b6c22d1b1a4e2ccc16"),
    ],
    "pdf://scan/06": [
        ("fda6e76b37d62d6b2f1c4450e30518f8", (18, 157, 3),
         "cb8ab041cd19f524293c8bf03b10edae"),
    ],
    "pdf://scan/07": [
        ("f0bce7259fdc33c88cdb02968fc5931b", (18, 225, 3),
         "0448cb36f7eb1faed24db7be73420fb1"),
        ("df1e64b8825db21038872cfdebc87c45", (18, 222, 3),
         "6557dd6a24f2bc33d02f28e6cf597c91"),
    ],
    "pdf://text/0": [],
    "pdf://fax/0": [
        ("1b760e0a12860f2895a6325ad024bb86", (18, 135, 3),
         "1faad5521007cb1b942ccc5c49e43e68"),
    ],
    "pdf://fax/1": [
        ("6c93f79b181424dc949c9191c82bef6d", (18, 277, 3),
         "a42dada0b91de0f3d1430ccc2dcf5515"),
    ],
    "pdf://fax/g3": [
        ("49bfb1211ba65ec328ee1423543c773d", (18, 187, 3),
         "bc2bebba42d7c91cfe3492cd53e3e431"),
    ],
    "pdf://jbig2/0": [
        ("172a0b8fbfd9b0ec2f97dc4d4a1931b1", (18, 135, 3),
         "764b1e7a050ae8a5caab54e733bcf4cf"),
    ],
    "pdf://jbig2/glob": [
        ("1dc12579562d77d74afe74cc7e2c8d1d", (18, 125, 3),
         "c94ecc1c6b49a853e02655ea679e11d9"),
    ],
    "pdf://jbig2/sym": [
        ("d4bcf1387fde97ce831efcb4b089d1f5", (18, 218, 3),
         "419a19460b07657e28fccbe0b45863f2"),
    ],
    "pdf://jbig2/huff": [
        ("d57b03ff7cdcdc795b54766d132dd915", (18, 242, 3),
         "48c03921543441f724dde43fffb78db3"),
    ],
    "pdf://jbig2/refine": [
        ("4e09b432c1ad67eef37f57183ec28e55", (18, 149, 3),
         "9a688a2596a89c718a5f2e4418543de8"),
    ],
    "pdf://jbig2/tpgron": [
        ("cdd79313d013ca3f83f857951cdc5b4a", (18, 156, 3),
         "04d5058ed8392874b690246cc3fa0bbc"),
    ],
    "pdf://jpx/0": [
        ("edf7d3c9c8a498f6be9eeb6e804dd4ed", (18, 153, 3),
         "9c43d08dfbdff3aacf742fc71c1587b3"),
    ],
    "pdf://jpx/offs": [
        ("f6ff09ff38e3be6fb8dfa927189ee30b", (18, 173, 3),
         "2c2ac8e919b515e4590c8a293d0100d9"),
    ],
    "pdf://jpx/prec": [
        ("b56735820605f7fbbafad2f8698e61e8", (18, 174, 3),
         "80d90b01da37299b056f23cd9a85fb24"),
    ],
    "pdf://jpx/tiled": [
        ("9404d29326cd5a34f83413e86b0cc95a", (18, 142, 3),
         "b342a09104994cdff7c44e8ff9e26dfe"),
    ],
    "pdf://inline/dct": [
        ("b447b8d5a12b9e2eb0c69cd9adfa3d82", (18, 187, 3),
         "fa6b28180a45df170166c96513fe3555"),
    ],
    "pdf://jbig2/halftone": [
        ("f10c41fc55848498ae664322748e542f", (18, 149, 3),
         "6811932513a2b5dbc6ede05d593e26c4"),
    ],
}

CODEC_PINS = {
    "baseline_rgb": (
        "dca6208c86507c586b43d80dcda62c03", (18, 153, 3),
        "bf1385fddfc87611fb8e2e88c43cbf23"),
    "baseline_420": (
        "90bacba2b1ba08705391c5abaca4ce76", (18, 153, 3),
        "e192ed1af90fadf57beb6b4b3988080e"),
    "baseline_gray": (
        "6f0f8eddf7e75920eeedd66ea5c940a2", (18, 153, 3),
        "1f039ef5f5f9d9b165f38bb29bcfa28a"),
    "progressive_rgb_ri3": (
        "b7f94c797cde592d94767e0774bbb5ad", (18, 153, 3),
        "bf1385fddfc87611fb8e2e88c43cbf23"),
    "progressive_420_ri2": (
        "1cb3aca6c7f2d1690455bac807ad6ff4", (18, 153, 3),
        "e192ed1af90fadf57beb6b4b3988080e"),
    "progressive_gray": (
        "aa85d211002db372364f3431fbbbe18f", (18, 153, 3),
        "1f039ef5f5f9d9b165f38bb29bcfa28a"),
    "ext12_progressive_rgb": (
        "d35e96eff5fbbf0e7b636093e19d316b", (18, 153, 3),
        "9c33767a718718d67d75beacfdba61cf"),
    "lossless_rgb_p4": (
        "613968f3907177d8ce294ebc70ef01a7", (18, 153, 3),
        "71ca746cefff0cf79d952455e9cb1c36"),
    "jp2_lossless_rgb": (
        "3271491aa8a495057e067e83842e4560", (40, 56, 3),
        "ec490d5779c5aaac4dbdbe9b8fa6394e"),
    "jp2_lossy_rgb": (
        "59fba826abc5e7838287907fa2bdd1cf", (40, 56, 3),
        "ec490d5779c5aaac4dbdbe9b8fa6394e"),
    "jp2_gray_3lvl_cblk4": (
        "c0b25bbc35ec13df0b2f250765061e02", (40, 56, 3),
        "005fa84fec845113c0375f10696d47b4"),
    "jbig2_t0_plain": (
        "b554a4bb4623398d2ca6925b82e7391f", (23, 77),
        "db48d35b818b5f1d3dccd773e25b0933"),
    "jbig2_t0_tp": (
        "e3ebe257cef754d18068f1d6acfd45fe", (23, 77),
        "db48d35b818b5f1d3dccd773e25b0933"),
    "jbig2_t1_plain": (
        "aa14f930fd3bd3a70f68b547e5cb5e45", (23, 77),
        "db48d35b818b5f1d3dccd773e25b0933"),
    "jbig2_t1_tp": (
        "b38651094ce5318ceb00501b56c23fd0", (23, 77),
        "db48d35b818b5f1d3dccd773e25b0933"),
    "jbig2_t2_plain": (
        "bc23009cb6395ec0c8a13bd3c26bc72e", (23, 77),
        "db48d35b818b5f1d3dccd773e25b0933"),
    "jbig2_t2_tp": (
        "9acd0194a4ac2ba73d86725eb99f926d", (23, 77),
        "db48d35b818b5f1d3dccd773e25b0933"),
    "jbig2_t3_plain": (
        "754c38ecae0607e741584178b9e196fd", (23, 77),
        "db48d35b818b5f1d3dccd773e25b0933"),
    "jbig2_t3_tp": (
        "7a29a15bdaf895da20a94e38ed75e57d", (23, 77),
        "db48d35b818b5f1d3dccd773e25b0933"),
}


def _h(b: bytes) -> str:
    return hashlib.sha256(b).hexdigest()[:32]


def _pin(blob: bytes, px: np.ndarray) -> tuple:
    return (_h(blob), px.shape, _h(px.tobytes()))


def test_scan_fixture_images_decode_to_pinned_pixels():
    got = {url: [_pin(img, decode_image(img))
                 for img in extract_pdf_images(blob)]
           for url, blob in load_fixtures()}
    assert set(got) == set(FIXTURE_PINS)
    for url, pins in FIXTURE_PINS.items():
        assert got[url] == pins, url


def _text_rgb() -> np.ndarray:
    img, _, _ = render_line("Pinned pixels 1885 qg")
    rgb = np.repeat(img[:, :, None], 3, axis=2)
    rgb[:, :, 1] = np.roll(rgb[:, :, 1], 3, axis=1)
    rgb[:, :, 2] //= 2
    return rgb


def _jpeg_streams() -> dict:
    rgb = _text_rgb()
    gray = render_line("Pinned pixels 1885 qg")[0]
    return {
        "baseline_rgb": encode_jpeg(rgb),
        "baseline_420": encode_jpeg(rgb, subsample=True),
        "baseline_gray": encode_jpeg(gray),
        "progressive_rgb_ri3": encode_jpeg_progressive(
            rgb, restart_interval=3),
        "progressive_420_ri2": encode_jpeg_progressive(
            rgb, subsample=True, restart_interval=2),
        "progressive_gray": encode_jpeg_progressive(gray),
        "ext12_progressive_rgb": encode_jpeg_12bit_ext(
            rgb.astype(np.uint16) * 16, progressive=True),
        "lossless_rgb_p4": encode_jpeg_lossless(rgb, predictor=4),
    }


@pytest.mark.parametrize("name", [
    "baseline_rgb", "baseline_420", "baseline_gray",
    "progressive_rgb_ri3", "progressive_420_ri2", "progressive_gray",
    "ext12_progressive_rgb", "lossless_rgb_p4"])
def test_jpeg_encode_decode_pins(name):
    blob = _jpeg_streams()[name]
    assert _pin(blob, decode_jpeg(blob)) == CODEC_PINS[name]


def _photo() -> np.ndarray:
    rng = np.random.RandomState(11)
    yy, xx = np.mgrid[0:40, 0:56]
    photo = np.stack([(xx * 4 + yy) % 256, (yy * 5) % 256,
                      (xx * yy) % 256], -1)
    return (photo + rng.randint(-20, 21, photo.shape)).clip(0, 255) \
        .astype(np.uint8)


@pytest.mark.parametrize("name,kw", [
    ("jp2_lossless_rgb", {}),
    ("jp2_lossy_rgb", {"irreversible": True}),
    ("jp2_gray_3lvl_cblk4", {"levels": 3, "cblk_exp": (2, 2)})])
def test_jp2_encode_decode_pins(name, kw):
    src = _photo()
    if "gray" in name:
        src = src[..., 0]
    blob = encode_jp2(src, **kw)
    assert _pin(blob, decode_jp2(blob)) == CODEC_PINS[name]


@pytest.mark.parametrize("template", [0, 1, 2, 3])
@pytest.mark.parametrize("tpgdon", [False, True])
def test_jbig2_generic_region_pins(template, tpgdon):
    rng = np.random.RandomState(11)
    rng.randint(-20, 21, (40, 56, 3))  # keep _photo's draw order
    bm = (rng.rand(23, 77) < 0.35).astype(np.uint8)
    bm[5:9] = bm[4]  # identical rows: TPGDON's typical-row path
    at = None if template else [(4, -1), (-2, -1), (3, -2), (-4, -2)]
    blob = generic_region_encode(bm, template, tpgdon, at)
    px = generic_region_decode(blob, 77, 23, template, tpgdon, at)
    assert np.array_equal(px, bm)
    key = f"jbig2_t{template}_{'tp' if tpgdon else 'plain'}"
    assert _pin(blob, px) == CODEC_PINS[key]
