"""The extract_pdf driver-query fixture set, as COMMITTED files.

The fixtures are deterministic bytes (every writer in synth/pdfgen is
seeded), but generating them is not free — the AES-256/R6 documents
cost several Algorithm 2.B password hashes each, which made
q_extract_pdf the most expensive query in the driver's correctness
gate purely on ENCODER cost. So, like
data/tiny_font.ttf and the goldens, the generated bytes live in git
(data/pdf_fixtures/*.pdf) and the query READS them;
tests/test_pdf_fixture_files.py asserts regeneration byte-matches the
committed copies, so the files can never drift from the writers.

Regenerate (after an intentional writer change):
    python tools/make_pdf_fixtures.py
then re-run tools/make_goldens.py + tools/check_queries.py.
"""

from __future__ import annotations

import pathlib
from typing import Callable

FIXTURE_DIR = (pathlib.Path(__file__).resolve().parents[2]
               / "data" / "pdf_fixtures")

_CHAINS: list[tuple[str, ...] | None] = [
    None, (), ("LZWDecode",), ("ASCIIHexDecode",),
    ("ASCII85Decode",), ("RunLengthDecode",),
    ("ASCII85Decode", "FlateDecode"),
    ("ASCIIHexDecode", "LZWDecode"),
]


def _filter_doc(i: int) -> bytes:
    from .pdfgen import make_pdf

    lines = [f"Document {i} line {j} of synthetic text"
             for j in range(1 + i % 3)]
    chain = _CHAINS[i % len(_CHAINS)]
    return (make_pdf([lines], compress=False) if chain == ()
            else make_pdf([lines], filters=chain))


def _fixture_factories() -> dict[str, Callable[[], bytes]]:
    """url → factory. Import-light: pdfgen (and its AES dependency)
    loads only when a factory actually runs."""
    from .pdfgen import (encrypt_pdf, make_aes256_pdf, make_cid_pdf,
                         make_encrypted_pdf, make_form_pdf,
                         make_mixed_type0_pdf, make_pdf)

    f: dict[str, Callable[[], bytes]] = {}
    for i in range(12):
        f[f"pdf://doc/{i:03d}"] = (lambda i=i: _filter_doc(i))
    for r in (2, 3, 4):  # RC4 (R2/R3) + AES-128 (R4), permissions-only
        f[f"pdf://enc/r{r}"] = (lambda r=r: make_encrypted_pdf(
            [[f"Encrypted rev {r} document text"]], r=r))
    f["pdf://enc/r6"] = lambda: make_aes256_pdf(
        [["Encrypted rev 6 AES-256 text"]])
    # modern-writer trailer: the xref is an (unencrypted) xref STREAM
    f["pdf://enc/r6xref"] = lambda: make_aes256_pdf(
        [["Xref stream trailer text"]], xref_stream=True)
    # TRUE password document: quarantines (ok=False) without the
    # password — extract_pages runs with the default empty password
    f["pdf://enc/r6pw"] = lambda: make_aes256_pdf(
        [["Locked behind a user password"]], user_pw=b"hunter2")
    f["pdf://bad/0"] = lambda: (
        b"%PDF-1.4\n<< /Filter /JBIG2Decode >>\nstream\nxx\nendstream")
    # Type0/Identity-H CID text: hex TJ/Tj shows + a literal-CID show,
    # both mapped through /ToUnicode; the no-ToUnicode document is
    # unextractable by ANY engine and must quarantine (ok=False)
    f["pdf://cid/hex"] = lambda: make_cid_pdf(
        [["Modern digital document", "with subset fonts"]])
    f["pdf://cid/lit"] = lambda: make_cid_pdf(
        [["literal cid string show"]], literal_show=True)
    f["pdf://cid/noto"] = lambda: make_cid_pdf([["opaque"]],
                                               tounicode=False)
    # /ObjStm-packed font dicts (the layout where a raw obj scan sees
    # no fonts) and a ToUnicode-deleted glyph (maps to EMPTY string)
    f["pdf://cid/objstm"] = lambda: make_cid_pdf(
        [["packed object stream fonts"]], objstm=True)
    f["pdf://cid/deleted"] = lambda: make_cid_pdf(
        [["deleted glyph test line"]], deleted_glyph=True)
    # mixed strict-Type0 document: one resolved CID page + one simple
    # page + one page under an unresolvable font name — the simple and
    # CID pages extract, ONLY the unresolvable stream quarantines
    # (per-stream granularity, counted in the error column)
    f["pdf://cid/mixed"] = lambda: make_mixed_type0_pdf()
    # the realistic modern shape: AES-128-encrypted Identity-H CID
    # document (ToUnicode CMap stream itself encrypted)
    f["pdf://enc/cid"] = lambda: encrypt_pdf(
        make_cid_pdf([["Encrypted CID document"]]), r=4)
    # Skia/Chrome print-to-PDF shape: every run positioned with Tm,
    # no Td/TD/T* anywhere — line structure from the f component
    f["pdf://tm/doc"] = lambda: make_pdf(
        [["Tm positioned first line here", "Tm second line of text"],
         ["Tm third line on page two"]], tm_layout=True)
    # named simple-font base encodings: WinAnsi bytes 0x80-0x9F (curly
    # quotes, dashes, euro — the Word-generated-PDF shape latin-1
    # silently garbles), full MacRoman high range, and an encoding
    # DICT layering /Differences over /BaseEncoding
    f["pdf://winansi/0"] = lambda: make_pdf(
        [["Curly “quotes” — em dash – en dash € euro…",
          "Très élégant café résumé"]], encoding="WinAnsiEncoding")
    f["pdf://macroman/0"] = lambda: make_pdf(
        [["MacRoman • bullet é accent ≠ math ¤ currency"]],
        encoding="MacRomanEncoding")
    f["pdf://winansi/diffs"] = lambda: make_pdf(
        [["Layered € becomes bullet"]], encoding="WinAnsiEncoding",
        enc_differences=True)
    # filled interactive form: /Tx field values (latin-1 + UTF-16BE)
    # and a FreeText annotation — text no content stream shows
    f["pdf://form/fields"] = lambda: make_form_pdf(
        [["Printed form page"]],
        fields=[("name", "Jordan Applicant"), ("note", "Čeština résumé")],
        freetext=["A margin annotation"])
    # the same form AES-128-encrypted: strings carry per-object
    # encryption and must decrypt alongside the streams
    f["pdf://form/enc"] = lambda: encrypt_pdf(make_form_pdf(
        [["Encrypted form page"]],
        fields=[("name", "Encrypted Value")]), r=4)
    return f


def fixture_filename(url: str) -> str:
    return url.removeprefix("pdf://").replace("/", "_") + ".pdf"


def generate_fixtures() -> dict[str, bytes]:
    """url → freshly generated bytes (slow path: runs the writers)."""
    return {url: fac() for url, fac in _fixture_factories().items()}


def load_fixtures() -> list[tuple[str, bytes]]:
    """url → COMMITTED bytes, in deterministic url order (fast path:
    pure file reads — what q_extract_pdf uses)."""
    out = []
    for url in sorted(_fixture_factories()):
        path = FIXTURE_DIR / fixture_filename(url)
        out.append((url, path.read_bytes()))
    return out
