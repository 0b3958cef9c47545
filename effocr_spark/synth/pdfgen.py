"""Deterministic minimal PDF writer for fixtures.

Produces well-formed single- or multi-page text PDFs (catalog → pages →
page → FlateDecode-or-raw content stream + Helvetica font), with a
correct xref table so external readers accept them too. The content
stream uses the operators the extractor parses: BT/ET, Tf, Td, TJ with
kerning, Tj, T' — giving the fixture real layout structure, not just a
blob of Tj calls.
"""

from __future__ import annotations

import zlib


def _escape(s: str) -> str:
    return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")


def _stream_encode(ops_text: str, encoding: str | None) -> bytes:
    """Content-stream text → bytes under the page font's base encoding.
    Deliberately INDEPENDENT of the extractor's decode tables (Python's
    cp1252/mac_roman codecs), so encode/decode bugs can't mirror. The
    one PDF-vs-Apple divergence (MacRomanEncoding 0xDB is /currency,
    not the post-euro-revision €) is handled by translating ¤ to the
    codepoint Python's codec puts at 0xDB."""
    if encoding == "WinAnsiEncoding":
        return ops_text.encode("cp1252")
    if encoding == "MacRomanEncoding":
        return ops_text.replace("¤", "€").encode("mac_roman")
    return ops_text.encode("latin-1")


def _content_stream(lines: list[str], encoding: str | None = None) -> bytes:
    ops = ["BT", "/F1 12 Tf", "72 720 Td"]
    for i, line in enumerate(lines):
        if i:
            ops.append("0 -14 Td")
        words = line.split(" ")
        if len(words) > 1:
            # TJ array with explicit inter-word kerning (< -180 reads
            # back as a space)
            parts = " -250 ".join(f"({_escape(w)})" for w in words)
            ops.append(f"[{parts}] TJ")
        else:
            ops.append(f"({_escape(line)}) Tj")
    ops.append("ET")
    return _stream_encode("\n".join(ops), encoding)


def _content_stream_tm(lines: list[str]) -> bytes:
    """Tm-positioned content stream — the Skia/Chrome print-to-PDF /
    wkhtmltopdf shape: no Td/TD/T* at all, every text run positioned
    with an absolute `a b c d e f Tm`. Lines advance by changing f;
    multi-word lines are split into TWO same-f runs at a word boundary
    (the first keeps its trailing space), exercising the
    horizontal-run-within-a-line no-break path."""
    ops = ["BT", "/F1 12 Tf"]
    for i, line in enumerate(lines):
        y = 720 - 14 * i
        words = line.split(" ")
        if len(words) > 1:
            k = (len(words) + 1) // 2
            first = " ".join(words[:k]) + " "
            second = " ".join(words[k:])
            ops.append(f"1 0 0 1 72 {y} Tm")
            ops.append(f"({_escape(first)}) Tj")
            ops.append(f"1 0 0 1 300 {y} Tm")
            ops.append(f"({_escape(second)}) Tj")
        else:
            ops.append(f"1 0 0 1 72 {y} Tm")
            ops.append(f"({_escape(line)}) Tj")
    ops.append("ET")
    return "\n".join(ops).encode("latin-1")


def _encode_filters(content: bytes, chain: tuple[str, ...]) -> bytes:
    """Apply an ENCODE chain (reverse of the /Filter decode order)."""
    import base64

    from ..functions.pdftext import lzw_encode

    for name in reversed(chain):
        if name == "FlateDecode":
            content = zlib.compress(content)
        elif name == "LZWDecode":
            content = lzw_encode(content)
        elif name == "ASCIIHexDecode":
            content = content.hex().encode("ascii") + b">"
        elif name == "ASCII85Decode":
            content = base64.a85encode(content) + b"~>"
        elif name == "RunLengthDecode":
            out = bytearray()
            for s in range(0, len(content), 128):
                chunk = content[s:s + 128]
                out += bytes([len(chunk) - 1]) + chunk
            content = bytes(out) + bytes([128])
        else:
            raise ValueError(f"unknown fixture filter {name}")
    return content


def make_pdf(pages: list[list[str]], compress: bool = True,
             filters: tuple[str, ...] | None = None,
             tm_layout: bool = False,
             encoding: str | None = None,
             enc_differences: bool = False) -> bytes:
    """pages = list of pages, each a list of text lines → PDF bytes.
    filters: explicit /Filter decode chain (e.g. ("ASCII85Decode",
    "FlateDecode")); default keeps the compress flag's behavior.
    tm_layout=True positions every text run with Tm and never emits
    Td/TD/T* — the Skia/Chrome print-to-PDF shape.
    encoding: a named simple-font base encoding ("WinAnsiEncoding" /
    "MacRomanEncoding") — text bytes are emitted in that encoding and
    the font dict carries /Encoding; enc_differences=True wraps it as
    an encoding dict (/BaseEncoding + a /Differences entry remapping
    byte 128 to /bullet) to exercise the layering order."""
    objs: list[bytes] = []
    n_pages = len(pages)
    kids = " ".join(f"{3 + 2 * i} 0 R" for i in range(n_pages))
    objs.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objs.append(f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>"
                .encode())
    font_num = 3 + 2 * n_pages
    if filters is None:
        filters = ("FlateDecode",) if compress else ()
    for i, lines in enumerate(pages):
        content = (_content_stream_tm(lines) if tm_layout
                   else _content_stream(lines, encoding))
        if filters:
            content = _encode_filters(content, filters)
            names = "".join(f" /{n}" for n in filters)
            filt = (f" /Filter [{names} ]" if len(filters) > 1
                    else f" /Filter{names}")
        else:
            filt = ""
        objs.append(
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            f"/Contents {4 + 2 * i} 0 R /Resources << /Font << /F1 "
            f"{font_num} 0 R >> >> >>".encode())
        objs.append(f"<< /Length {len(content)}{filt} >>\nstream\n"
                    .encode() + content + b"\nendstream")
    enc = ""
    if encoding is not None:
        if enc_differences:
            enc = (f" /Encoding << /Type /Encoding /BaseEncoding "
                   f"/{encoding} /Differences [ 128 /bullet ] >>")
        else:
            enc = f" /Encoding /{encoding}"
    objs.append(f"<< /Type /Font /Subtype /Type1 /BaseFont "
                f"/Helvetica{enc} >>".encode())

    out = bytearray(b"%PDF-1.4\n")
    offsets = [0]
    for num, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += f"{num} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_at = len(out)
    out += f"xref\n0 {len(objs) + 1}\n".encode()
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += f"{off:010d} 00000 n \n".encode()
    out += (f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R >>\n"
            f"startxref\n{xref_at}\n%%EOF\n".encode())
    return bytes(out)


def _standard_security(r: int, owner_pw: bytes, user_pw: bytes,
                       permissions: int, id0: bytes, seed: bytes):
    """The standard security handler for revision r, writer side →
    (/Encrypt dictionary, encrypt(raw, num, gen, iv) for one stream
    body or string of object num/gen).

    r = 2/3/4: /O from the owner password (Algorithm 3.3), the file key
    from the user password, /O, /P and id0 (3.2), /U (3.4/3.5); each
    object encrypts under its own key (3.1): RC4 for r = 2/3, AES-128
    CBC for r = 4. r = 6 (PDF 2.0 /AESV3): the 32-byte file key and
    the four salts come from seed; /U /UE /O /OE /Perms per Algorithm
    2.B, and every object encrypts under the file key with AES-256
    CBC. AES output is iv + ciphertext (PKCS#7); RC4 ignores iv."""
    import hashlib

    from ..functions.aescipher import cbc_encrypt, cbc_encrypt_nopad
    from ..functions.pdftext import (_PDF_PAD, _hash_2b, _object_key,
                                     _rc4, _rc4_rounds, _std_key,
                                     _user_password_entry)

    if r == 6:
        vsalt, ksalt, ovsalt, oksalt = (seed[i:i + 8]
                                        for i in range(0, 32, 8))
        key = hashlib.sha256(seed + b"filekey").digest()
        u_val = _hash_2b(user_pw, vsalt, b"", 6) + vsalt + ksalt
        ue_val = cbc_encrypt_nopad(_hash_2b(user_pw, ksalt, b"", 6),
                                   bytes(16), key)
        o_val = _hash_2b(owner_pw, ovsalt, u_val, 6) + ovsalt + oksalt
        oe_val = cbc_encrypt_nopad(_hash_2b(owner_pw, oksalt, u_val, 6),
                                   bytes(16), key)
        perms_val = cbc_encrypt_nopad(
            key, bytes(16), (permissions & 0xFFFFFFFF).to_bytes(4, "little")
            + b"\xff" * 4 + b"Tadb" + seed[:4])
        enc_dict = (
            f"<< /Filter /Standard /V 5 /R 6 /Length 256 "
            f"/CF << /StdCF << /CFM /AESV3 /Length 32 >> >> "
            f"/StmF /StdCF /StrF /StdCF /P {permissions} "
            f"/U <{u_val.hex()}> /UE <{ue_val.hex()}> "
            f"/O <{o_val.hex()}> /OE <{oe_val.hex()}> "
            f"/Perms <{perms_val.hex()}> >>").encode()
    else:
        key_len = 5 if r == 2 else 16
        padded_user = (user_pw + _PDF_PAD)[:32]
        d = hashlib.md5((owner_pw + _PDF_PAD)[:32]).digest()
        if r == 2:
            o_val = _rc4(d[:5], padded_user)
        else:
            for _ in range(50):
                d = hashlib.md5(d).digest()
            o_val = _rc4_rounds(d[:key_len], padded_user)
        key = _std_key(user_pw, o_val, permissions, id0, r, key_len)
        # 32-byte entry; from R3 only the first 16 bytes are significant
        u_val = _user_password_entry(key, id0, r).ljust(32, b"\x00")
        if r == 4:
            crypt = ("/V 4 /R 4 /Length 128 "
                     "/CF << /StdCF << /CFM /AESV2 /Length 16 >> >> "
                     "/StmF /StdCF /StrF /StdCF ")
        else:
            crypt = (f"/V {1 if r == 2 else 2} /R {r} "
                     f"/Length {key_len * 8} ")
        enc_dict = (f"<< /Filter /Standard {crypt}/P {permissions} "
                    f"/O <{o_val.hex()}> /U <{u_val.hex()}> >>").encode()

    def encrypt(raw: bytes, num: int, gen: int, iv: bytes) -> bytes:
        if r == 6:
            return iv + cbc_encrypt(key, iv, raw)
        if r == 4:
            return iv + cbc_encrypt(_object_key(key, num, gen, aes=True),
                                    iv, raw)
        return _rc4(_object_key(key, num, gen), raw)

    return enc_dict, encrypt


def make_encrypted_pdf(pages: list[list[str]], r: int = 3,
                       owner_pw: bytes = b"owner-secret",
                       permissions: int = -44,
                       user_pw: bytes = b"") -> bytes:
    """Standard-security-handler encrypted PDF, by default with an
    EMPTY user password — the permissions-only locking most
    "encrypted" web PDFs use (user_pw makes a true-password document).
    r=2/3: RC4 (V 1/2); r=4: AES-128-CBC (V4 /AESV2, per-stream
    IV prepended). Streams are Flate-encoded then encrypted with the
    per-object key, exactly the layering the spec prescribes."""
    import hashlib

    id0 = hashlib.md5(repr(pages).encode()).digest()
    enc_dict, encrypt = _standard_security(r, owner_pw, user_pw,
                                           permissions, id0, b"")

    objs: list[bytes] = []
    n_pages = len(pages)
    kids = " ".join(f"{3 + 2 * i} 0 R" for i in range(n_pages))
    objs.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objs.append(f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>"
                .encode())
    font_num = 3 + 2 * n_pages
    enc_num = font_num + 1
    for i, lines in enumerate(pages):
        # deterministic IV (AES only) for fixture stability
        content = encrypt(zlib.compress(_content_stream(lines)),
                          4 + 2 * i, 0, hashlib.md5(b"iv%d" % i).digest())
        objs.append(
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            f"/Contents {4 + 2 * i} 0 R /Resources << /Font << /F1 "
            f"{font_num} 0 R >> >> >>".encode())
        objs.append(f"<< /Length {len(content)} /Filter /FlateDecode >>"
                    f"\nstream\n".encode() + content + b"\nendstream")
    objs.append(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    objs.append(enc_dict)

    out = bytearray(b"%PDF-1.4\n")
    offsets = [0]
    for num, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += f"{num} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_at = len(out)
    out += f"xref\n0 {len(objs) + 1}\n".encode()
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += f"{off:010d} 00000 n \n".encode()
    out += (f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R "
            f"/Encrypt {enc_num} 0 R /ID [<{id0.hex()}> <{id0.hex()}>] >>\n"
            f"startxref\n{xref_at}\n%%EOF\n".encode())
    return bytes(out)


def make_scanned_pdf(jpegs: list[tuple[bytes, int, int]],
                     text_lines: list[list[str]] | None = None,
                     image_filters: tuple[str, ...] = ()) -> bytes:
    """Scanned-document PDF: one DCT (JPEG) image XObject per page,
    drawn full-page — the structure scanners and newspaper archives
    emit. jpegs = [(jpeg_bytes, width, height)]. text_lines: optional
    per-page text layer (a mixed scan+text document). image_filters:
    extra transport filters wrapped AROUND the JPEG bytes (e.g.
    ("ASCII85Decode",) → /Filter [/ASCII85Decode /DCTDecode])."""
    n_pages = len(jpegs)
    if text_lines is None:
        text_lines = [[] for _ in range(n_pages)]
    objs: list[bytes] = []
    kids = " ".join(f"{3 + 3 * i} 0 R" for i in range(n_pages))
    objs.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objs.append(f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>"
                .encode())
    font_num = 3 + 3 * n_pages
    for i, ((jpeg, w, h), lines) in enumerate(zip(jpegs, text_lines)):
        content = (b"q %d 0 0 %d 0 0 cm /Im0 Do Q\n" % (w, h))
        if lines:
            content += _content_stream(lines)
        body = jpeg
        names = list(image_filters) + ["DCTDecode"]
        if image_filters:
            body = _encode_filters(body, tuple(image_filters))
        filt = ("/Filter [" + "".join(f" /{n}" for n in names) + " ]"
                if len(names) > 1 else "/Filter /DCTDecode")
        objs.append(
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 {w} {h}] "
            f"/Contents {4 + 3 * i} 0 R /Resources << /XObject "
            f"<< /Im0 {5 + 3 * i} 0 R >> /Font << /F1 {font_num} 0 R >> "
            f">> >>".encode())
        objs.append(f"<< /Length {len(content)} >>\nstream\n".encode()
                    + content + b"\nendstream")
        objs.append(
            f"<< /Type /XObject /Subtype /Image /Width {w} /Height {h} "
            f"/ColorSpace /DeviceRGB /BitsPerComponent 8 {filt} "
            f"/Length {len(body)} >>\nstream\n".encode()
            + body + b"\nendstream")
    objs.append(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")

    out = bytearray(b"%PDF-1.4\n")
    offsets = [0]
    for num, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += f"{num} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_at = len(out)
    out += f"xref\n0 {len(objs) + 1}\n".encode()
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += f"{off:010d} 00000 n \n".encode()
    out += (f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R >>\n"
            f"startxref\n{xref_at}\n%%EOF\n".encode())
    return bytes(out)


# ------------------------------------------------- Type0 / CID fixtures

def _cid_of(ch: str) -> int:
    """Deterministic NON-identity glyph CID for fixtures: codepoint +
    0x100. Non-identity so an extractor that skips the ToUnicode CMap
    (and reads CIDs as chars) produces visibly wrong text."""
    return ord(ch) + 0x100


def _cid_hex(s: str) -> str:
    return "".join(f"{_cid_of(c):04X}" for c in s)


def _cid_tounicode_cmap(chars: set[str]) -> bytes:
    """Minimal /ToUnicode CMap covering `chars`: lowercase a-z as ONE
    incrementing bfrange, everything else as bfchar entries, plus a
    multi-code-unit ligature mapping (CID 0x0001 → "fi") exercising
    UTF-16BE multi-char dsts."""
    lower = sorted(c for c in chars if "a" <= c <= "z")
    other = sorted(c for c in chars if not ("a" <= c <= "z"))
    bfchars = [f"<{_cid_of(c):04X}> <{ord(c):04X}>" for c in other]
    bfchars.append("<0001> <00660069>")  # ligature: fi
    bfchars.append("<0002> <>")  # deleted glyph: maps to EMPTY string
    parts = [
        "/CIDInit /ProcSet findresource begin",
        "12 dict begin",
        "begincmap",
        "/CIDSystemInfo << /Registry (Adobe) /Ordering (UCS) "
        "/Supplement 0 >> def",
        "/CMapName /Adobe-Identity-UCS def",
        "/CMapType 2 def",
        "1 begincodespacerange",
        "<0000> <FFFF>",
        "endcodespacerange",
        f"{len(bfchars)} beginbfchar",
        *bfchars,
        "endbfchar",
    ]
    if lower:
        parts += [
            "1 beginbfrange",
            f"<{_cid_of('a'):04X}> <{_cid_of('z'):04X}> <0061>",
            "endbfrange",
        ]
    parts += ["endcmap", "CMapName currentdict /CMap defineresource pop",
              "end", "end"]
    return "\n".join(parts).encode("latin-1")


def _cid_content_stream(lines: list[str], literal_show: bool,
                        deleted_glyph: bool = False) -> bytes:
    """Identity-H content stream: hex-string show operators, TJ arrays
    with word-gap kerning, and (optionally) a literal-string show whose
    bytes are the same 2-byte CIDs — all three spellings a real CID
    writer emits. deleted_glyph injects CID 0x0002 (ToUnicode-mapped
    to the EMPTY string) before the first line — it must extract to
    nothing, not U+FFFD or a latin-1 fallback."""
    ops = ["BT", "/F1 12 Tf", "72 720 Td"]
    if deleted_glyph:
        ops.append("<0002> Tj")
    for i, line in enumerate(lines):
        if i:
            ops.append("0 -14 Td")
        words = line.split(" ")
        if literal_show and i == len(lines) - 1:
            # literal string carrying raw 2-byte CID bytes (escaped)
            raw = b"".join(_cid_of(c).to_bytes(2, "big") for c in line)
            esc = (raw.replace(b"\\", rb"\\").replace(b"(", rb"\(")
                   .replace(b")", rb"\)").replace(b"\r", rb"\r"))
            ops.append(b"(" + esc + b") Tj")
        elif len(words) > 1:
            parts = " -250 ".join(f"<{_cid_hex(w)}>" for w in words)
            ops.append(f"[{parts}] TJ")
        else:
            ops.append(f"<{_cid_hex(line)}> Tj")
    ops.append("ET")
    return b"\n".join(o if isinstance(o, bytes) else o.encode("latin-1")
                      for o in ops)


def make_cid_pdf(pages: list[list[str]], tounicode: bool = True,
                 compress: bool = True,
                 literal_show: bool = False,
                 objstm: bool = False,
                 deleted_glyph: bool = False) -> bytes:
    """Identity-H Type0 (CID-keyed) text PDF — the shape nearly every
    modern born-digital PDF has (subset TrueType + Identity-H): hex
    2-byte-CID show strings, a /DescendantFonts CIDFontType2, and a
    /ToUnicode CMap mapping CIDs → unicode. tounicode=False omits the
    CMap: such a document is UNEXTRACTABLE by any text engine and must
    quarantine, not silently pass. objstm=True packs the page + font +
    descendant dicts into a Flate /ObjStm object stream (the modern-
    writer layout where a raw `N G obj` scan sees no font objects);
    the xref then indexes only the top-level objects — readers that
    walk the xref table need the /XRef-stream form, which the
    extractor does not require."""
    n_pages = len(pages)
    numbered: dict[int, bytes] = {}
    kids = " ".join(f"{3 + 2 * i} 0 R" for i in range(n_pages))
    numbered[1] = b"<< /Type /Catalog /Pages 2 0 R >>"
    numbered[2] = (f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>"
                   .encode())
    font_num = 3 + 2 * n_pages
    desc_num = font_num + 1
    touni_num = font_num + 2
    for i, lines in enumerate(pages):
        content = _cid_content_stream(lines, literal_show,
                                      deleted_glyph and i == 0)
        filt = ""
        if compress:
            content = zlib.compress(content)
            filt = " /Filter /FlateDecode"
        numbered[3 + 2 * i] = (
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            f"/Contents {4 + 2 * i} 0 R /Resources << /Font << /F1 "
            f"{font_num} 0 R >> >> >>".encode())
        numbered[4 + 2 * i] = (
            f"<< /Length {len(content)}{filt} >>\nstream\n".encode()
            + content + b"\nendstream")
    touni = (f" /ToUnicode {touni_num} 0 R" if tounicode else "")
    numbered[font_num] = (
        f"<< /Type /Font /Subtype /Type0 /BaseFont /SYNTH+Fixture "
        f"/Encoding /Identity-H /DescendantFonts [{desc_num} 0 R]"
        f"{touni} >>".encode())
    numbered[desc_num] = (
        b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /SYNTH+Fixture"
        b" /CIDSystemInfo << /Registry (Adobe) /Ordering (Identity) "
        b"/Supplement 0 >> /CIDToGIDMap /Identity >>")
    if tounicode:
        # include the space glyph: literal-CID shows encode spaces as
        # CIDs too (TJ-array shows recover them from kerning instead)
        chars = {c for page in pages for ln in page for c in ln}
        cmap = zlib.compress(_cid_tounicode_cmap(chars))
        numbered[touni_num] = (
            f"<< /Length {len(cmap)} /Filter /FlateDecode >>"
            f"\nstream\n".encode() + cmap + b"\nendstream")

    if objstm:
        packed = ([3 + 2 * i for i in range(n_pages)]
                  + [font_num, desc_num])
        bodies = [numbered.pop(n) for n in packed]
        offs = []
        pos = 0
        for b in bodies:
            offs.append(pos)
            pos += len(b) + 1
        header = " ".join(f"{n} {o}" for n, o in zip(packed, offs))
        payload = header.encode() + b"\n" + b"\n".join(bodies) + b"\n"
        first = len(header) + 1
        blob = zlib.compress(payload)
        numbered[touni_num + 1] = (
            f"<< /Type /ObjStm /N {len(packed)} /First {first} "
            f"/Length {len(blob)} /Filter /FlateDecode >>\nstream\n"
            .encode() + blob + b"\nendstream")

    out = bytearray(b"%PDF-1.5\n")
    offsets: dict[int, int] = {}
    for num in sorted(numbered):
        offsets[num] = len(out)
        out += f"{num} 0 obj\n".encode() + numbered[num] + b"\nendobj\n"
    xref_at = len(out)
    out += f"xref\n0 1\n".encode()
    out += b"0000000000 65535 f \n"
    for num in sorted(numbered):
        out += f"{num} 1\n{offsets[num]:010d} 00000 n \n".encode()
    out += (f"trailer\n<< /Size {max(numbered) + 1} /Root 1 0 R >>\n"
            f"startxref\n{xref_at}\n%%EOF\n".encode())
    return bytes(out)


def make_mixed_type0_pdf() -> bytes:
    """Mixed strict-Type0 document — the per-stream quarantine shape:
    page 1 shows Identity-H CID text under a resolved /F1, page 2
    simple-font text under /F2 (Helvetica), page 3 text under /F9
    whose resource entry references a MISSING object (the unresolvable
    name real damaged/subset documents carry). Extraction must keep
    pages 1-2 and quarantine ONLY page 3's stream."""
    cid_line = "Mixed CID first page"
    c1 = _cid_content_stream([cid_line], False)
    c2 = _content_stream(["Simple page survives"]).replace(
        b"/F1", b"/F2")
    c3 = _content_stream(["Ghost font text"]).replace(b"/F1", b"/F9")
    objs: list[bytes] = []
    objs.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objs.append(b"<< /Type /Pages /Kids [3 0 R 5 0 R 7 0 R] /Count 3 >>")
    objs.append(b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792]"
                b" /Contents 4 0 R /Resources << /Font << /F1 9 0 R >>"
                b" >> >>")
    objs.append(f"<< /Length {len(c1)} >>\nstream\n".encode()
                + c1 + b"\nendstream")
    objs.append(b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792]"
                b" /Contents 6 0 R /Resources << /Font << /F2 12 0 R >>"
                b" >> >>")
    objs.append(f"<< /Length {len(c2)} >>\nstream\n".encode()
                + c2 + b"\nendstream")
    objs.append(b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792]"
                b" /Contents 8 0 R /Resources << /Font << /F9 99 0 R >>"
                b" >> >>")
    objs.append(f"<< /Length {len(c3)} >>\nstream\n".encode()
                + c3 + b"\nendstream")
    objs.append(b"<< /Type /Font /Subtype /Type0 /BaseFont "
                b"/SYNTH+Fixture /Encoding /Identity-H "
                b"/DescendantFonts [10 0 R] /ToUnicode 11 0 R >>")
    objs.append(b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont "
                b"/SYNTH+Fixture /CIDSystemInfo << /Registry (Adobe) "
                b"/Ordering (Identity) /Supplement 0 >> "
                b"/CIDToGIDMap /Identity >>")
    cmap = _cid_tounicode_cmap(set(cid_line))
    objs.append(f"<< /Length {len(cmap)} >>\nstream\n".encode()
                + cmap + b"\nendstream")
    objs.append(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")

    out = bytearray(b"%PDF-1.5\n")
    offsets = [0]
    for num, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += f"{num} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_at = len(out)
    out += f"xref\n0 {len(objs) + 1}\n".encode()
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += f"{off:010d} 00000 n \n".encode()
    out += (f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R >>\n"
            f"startxref\n{xref_at}\n%%EOF\n".encode())
    return bytes(out)


def make_fax_pdf(bitmaps: list["object"],
                 text_lines: list[list[str]] | None = None,
                 black_is_1: bool = False,
                 k: int = -1,
                 omit_rows: bool = False,
                 byte_align: bool = False) -> bytes:
    """Scanned-document PDF with CCITT Group 4 fax image XObjects —
    what newspaper archives actually emit (G4, not DCT). bitmaps =
    list of 2-D uint8 grayscale arrays (ink black=0); each becomes one
    full-page 1-bit /CCITTFaxDecode image with matching /DecodeParms.
    k selects the coder for real: k < 0 → G4 (T.6), k = 0 → G3 1-D MH,
    k > 0 → G3 mixed mode; omit_rows drops /Rows (the G4 decoder must
    stop at EOFB)."""
    from .ccittcodec import g3_encode, g4_encode

    n_pages = len(bitmaps)
    if text_lines is None:
        text_lines = [[] for _ in range(n_pages)]
    objs: list[bytes] = []
    kids = " ".join(f"{3 + 3 * i} 0 R" for i in range(n_pages))
    objs.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objs.append(f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>"
                .encode())
    font_num = 3 + 3 * n_pages
    for i, (img, lines) in enumerate(zip(bitmaps, text_lines)):
        h, w = img.shape
        content = (b"q %d 0 0 %d 0 0 cm /Im0 Do Q\n" % (w, h))
        if lines:
            content += _content_stream(lines)
        body = (g4_encode(img, black_is_1=black_is_1,
                          byte_align=byte_align) if k < 0
                else g3_encode(img, black_is_1=black_is_1, k=k,
                               eol=(k > 0), byte_align=byte_align))
        rows = "" if omit_rows else f" /Rows {h}"
        parms = (f"/DecodeParms << /K {k} /Columns {w}{rows}"
                 f"{' /BlackIs1 true' if black_is_1 else ''}"
                 f"{' /EncodedByteAlign true' if byte_align else ''}"
                 f" >>")
        objs.append(
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 {w} {h}] "
            f"/Contents {4 + 3 * i} 0 R /Resources << /XObject "
            f"<< /Im0 {5 + 3 * i} 0 R >> /Font << /F1 {font_num} 0 R >> "
            f">> >>".encode())
        objs.append(f"<< /Length {len(content)} >>\nstream\n".encode()
                    + content + b"\nendstream")
        objs.append(
            f"<< /Type /XObject /Subtype /Image /Width {w} /Height {h} "
            f"/ColorSpace /DeviceGray /BitsPerComponent 1 "
            f"/Filter /CCITTFaxDecode {parms} "
            f"/Length {len(body)} >>\nstream\n".encode()
            + body + b"\nendstream")
    objs.append(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")

    out = bytearray(b"%PDF-1.4\n")
    offsets = [0]
    for num, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += f"{num} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_at = len(out)
    out += f"xref\n0 {len(objs) + 1}\n".encode()
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += f"{off:010d} 00000 n \n".encode()
    out += (f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R >>\n"
            f"startxref\n{xref_at}\n%%EOF\n".encode())
    return bytes(out)


def make_aes256_pdf(pages: list[list[str]],
                    owner_pw: bytes = b"owner-secret",
                    permissions: int = -44,
                    user_pw: bytes = b"",
                    xref_stream: bool = False) -> bytes:
    """AES-256 (V5/R6, PDF 2.0 /AESV3) encrypted PDF. /U carries
    hash-2.B(user_pw, validation salt) + the two salts; /UE wraps the
    random file key under the key-salt hash; streams are Flate-encoded
    then AES-256-CBC'd with the FILE key (IV-prefixed, PKCS#7) — no
    per-object keys in V5. user_pw != b"" makes a TRUE password
    document (quarantines unless the password is supplied).
    xref_stream=True emits a cross-reference STREAM instead of a
    classic xref table — the modern-writer shape, and per spec the one
    stream the security handler leaves unencrypted."""
    import hashlib

    # deterministic "random" material for fixture stability
    seed = hashlib.sha256(repr((pages, user_pw, xref_stream))
                          .encode()).digest()
    enc_dict, encrypt = _standard_security(6, owner_pw, user_pw,
                                           permissions, b"", seed)

    objs: list[bytes] = []
    n_pages = len(pages)
    kids = " ".join(f"{3 + 2 * i} 0 R" for i in range(n_pages))
    objs.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objs.append(f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>"
                .encode())
    font_num = 3 + 2 * n_pages
    enc_num = font_num + 1
    for i, lines in enumerate(pages):
        content = encrypt(zlib.compress(_content_stream(lines)),
                          4 + 2 * i, 0,
                          hashlib.md5(b"aes256iv%d" % i).digest())
        objs.append(
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            f"/Contents {4 + 2 * i} 0 R /Resources << /Font << /F1 "
            f"{font_num} 0 R >> >> >>".encode())
        objs.append(f"<< /Length {len(content)} /Filter /FlateDecode >>"
                    f"\nstream\n".encode() + content + b"\nendstream")
    objs.append(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    objs.append(enc_dict)

    out = bytearray(b"%PDF-2.0\n")
    offsets = [0]
    for num, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += f"{num} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_at = len(out)
    if xref_stream:
        # modern shape: the xref is itself a stream object (PNG
        # predictor 12 over W [1 4 2] rows) and doubles as the trailer;
        # per ISO 32000-2 7.5.8.2 it is NEVER encrypted — only Flated
        xref_num = len(objs) + 1
        size = xref_num + 1
        rows = [b"\x00" + (0).to_bytes(4, "big") + (65535).to_bytes(2, "big")]
        for off in offsets[1:] + [xref_at]:
            rows.append(b"\x01" + off.to_bytes(4, "big")
                        + (0).to_bytes(2, "big"))
        width = 7
        raw = bytearray()
        prev = bytes(width)
        for row in rows:  # PNG Up (2) per-row filter
            raw += b"\x02" + bytes((row[i] - prev[i]) & 0xFF
                                   for i in range(width))
            prev = row
        body = zlib.compress(bytes(raw))
        out += (f"{xref_num} 0 obj\n<< /Type /XRef /Size {size} "
                f"/W [1 4 2] /Root 1 0 R /Encrypt {enc_num} 0 R "
                f"/Filter /FlateDecode /DecodeParms << /Predictor 12 "
                f"/Columns {width} >> /Length {len(body)} >>\nstream\n"
                .encode() + body + b"\nendstream\nendobj\n")
        out += f"startxref\n{xref_at}\n%%EOF\n".encode()
    else:
        out += f"xref\n0 {len(objs) + 1}\n".encode()
        out += b"0000000000 65535 f \n"
        for off in offsets[1:]:
            out += f"{off:010d} 00000 n \n".encode()
        out += (f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R "
                f"/Encrypt {enc_num} 0 R >>\n"
                f"startxref\n{xref_at}\n%%EOF\n".encode())
    return bytes(out)


def make_jbig2_pdf(bitmaps: list["object"],
                   text_lines: list[list[str]] | None = None,
                   template: int = 0, tpgdon: bool = False,
                   mmr: bool = False,
                   use_globals: bool = False,
                   symbol_text: str | None = None,
                   symbol_huffman: bool = False,
                   raw_stream: bytes | None = None) -> bytes:
    """Scanned-document PDF with JBIG2 image XObjects (the OTHER
    encoding newspaper archives emit beside G4 fax). bitmaps = 2-D
    uint8 grayscale arrays (ink black = 0); each becomes one full-page
    /JBIG2Decode image (embedded organization: page info + immediate
    lossless generic region + end of page). use_globals moves the
    page-info segment into a shared /JBIG2Globals stream referenced
    from /DecodeParms — the two-stream layout PDF writers use for
    multi-page symbol reuse. symbol_text renders that text via the
    SYMBOL-CODED path (symbol dictionary + text region — how real
    scanner encoders compress text pages) instead of a generic region;
    the bitmap arg is then only used for page dimensions, so pass
    render_line(symbol_text)[0]."""
    from .jbig2codec import jbig2_encode_embedded, parse_segments

    n_pages = len(bitmaps)
    if text_lines is None:
        text_lines = [[] for _ in range(n_pages)]
    objs: list[bytes] = []
    kids = " ".join(f"{3 + 3 * i} 0 R" for i in range(n_pages))
    objs.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objs.append(f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>"
                .encode())
    font_num = 3 + 3 * n_pages
    glob_num = font_num + 1
    glob_payload = b""
    for i, (img, lines) in enumerate(zip(bitmaps, text_lines)):
        h, w = img.shape
        content = (b"q %d 0 0 %d 0 0 cm /Im0 Do Q\n" % (w, h))
        if lines:
            content += _content_stream(lines)
        if raw_stream is not None:
            # caller-supplied embedded JBIG2 stream (e.g. a
            # refinement-layered encode); bitmaps give dimensions only
            body = raw_stream
        elif symbol_text is not None:
            from .jbig2codec import jbig2_encode_text, symbols_from_text
            shape, syms, insts, _page = symbols_from_text(symbol_text)
            if symbol_huffman:
                from .jbig2huff import jbig2_encode_text_huffman
                body = jbig2_encode_text_huffman(shape, syms, insts)
            else:
                body = jbig2_encode_text(shape, syms, insts,
                                         template=template)
        else:
            body = jbig2_encode_embedded(img, template=template,
                                         tpgdon=tpgdon, mmr=mmr)
        parms = ""
        if use_globals:
            # split: first segment (page info) → the globals stream
            segs = parse_segments(body)
            first_len = len(body) - sum(
                len(p) + 11 for _t, _pg, p in segs[1:])
            glob_payload = body[:first_len]
            body = body[first_len:]
            parms = f" /DecodeParms << /JBIG2Globals {glob_num} 0 R >>"
        objs.append(
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 {w} {h}] "
            f"/Contents {4 + 3 * i} 0 R /Resources << /XObject "
            f"<< /Im0 {5 + 3 * i} 0 R >> /Font << /F1 {font_num} 0 R >> "
            f">> >>".encode())
        objs.append(f"<< /Length {len(content)} >>\nstream\n".encode()
                    + content + b"\nendstream")
        objs.append(
            f"<< /Type /XObject /Subtype /Image /Width {w} /Height {h} "
            f"/ColorSpace /DeviceGray /BitsPerComponent 1 "
            f"/Filter /JBIG2Decode{parms} "
            f"/Length {len(body)} >>\nstream\n".encode()
            + body + b"\nendstream")
    objs.append(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    if use_globals:
        objs.append(f"<< /Length {len(glob_payload)} >>\nstream\n"
                    .encode() + glob_payload + b"\nendstream")

    out = bytearray(b"%PDF-1.4\n")
    offsets = [0]
    for num, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += f"{num} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_at = len(out)
    out += f"xref\n0 {len(objs) + 1}\n".encode()
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += f"{off:010d} 00000 n \n".encode()
    out += (f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R >>\n"
            f"startxref\n{xref_at}\n%%EOF\n".encode())
    return bytes(out)


def encrypt_pdf(pdf: bytes, r: int = 4,
                owner_pw: bytes = b"owner-secret",
                permissions: int = -44) -> bytes:
    """Post-hoc encryptor: take ANY fixture PDF and produce the
    standard-security-handler encrypted equivalent (empty user
    password) — r = 2/3 RC4, 4 AES-128 /AESV2, 6 AES-256 /AESV3.
    Every stream body and every string (literal or hex) outside
    stream objects is encrypted in place (per-object keys from each
    object's own number and generation for r ≤ 4, the file key for
    r = 6) and /Length corrected; the /Encrypt dictionary and /ID land
    in the trailer. Lets every fixture shape (CID + ToUnicode, ObjStm,
    CCITT, JBIG2) be exercised under encryption without a bespoke
    writer each."""
    import hashlib
    import re as _re

    from ..functions.pdftext import _OBJ_RE, _STREAM_RE

    id0 = hashlib.md5(pdf).digest()
    enc_dict, encrypt = _standard_security(
        r, owner_pw, b"", permissions, id0, hashlib.sha256(pdf).digest())
    header_end = pdf.find(b"\n") + 1

    # literal OR hex string; `<<` / `>>` dict delimiters never match.
    # One pass, so the hex this emits is never encrypted a second time.
    _STRING_RE = _re.compile(
        rb"\((?P<lit>(?:\\.|[^\\()])*)\)"
        rb"|(?<!<)<(?!<)(?P<hex>[0-9A-Fa-f\s]*)>", _re.S)

    def enc_strings_in(body: bytes, num: int, gen: int) -> bytes:
        # spec: ALL strings in the document encrypt (except the
        # encryption dict / ID). Emitted as HEX strings so ciphertext
        # can never unbalance the surrounding dict syntax.
        from ..functions.pdftext import _hexstr_bytes, _unescape

        def repl(m):
            raw = (_unescape(m.group("lit")) if m.group("lit") is not None
                   else _hexstr_bytes(m.group("hex")))
            iv = hashlib.md5(b"siv%d%d" % (num, len(raw))).digest()
            return b"<" + encrypt(raw, num, gen, iv).hex().encode() + b">"

        return _STRING_RE.sub(repl, body)

    objs: list[tuple[int, int, bytes]] = []
    max_num = 0
    for om in _OBJ_RE.finditer(pdf):
        num, gen, body = int(om.group(1)), int(om.group(2)), om.group(3)
        max_num = max(max_num, num)
        sm = _STREAM_RE.search(body)
        if sm is None:
            body = enc_strings_in(body, num, gen)
        if sm is not None:
            enc = encrypt(sm.group(2), num, gen,
                          hashlib.md5(b"iv%d" % num).digest())
            dict_part = _re.sub(
                rb"/Length\s+\d+",
                b"/Length " + str(len(enc)).encode(),
                sm.group(1), count=1)
            body = (body[: sm.start()] + b"<<" + dict_part
                    + b">>\nstream\n" + enc + b"\nendstream")
        objs.append((num, gen, body.strip()))
    enc_num = max_num + 1
    objs.append((enc_num, 0, enc_dict))

    out = bytearray(pdf[:header_end])
    offsets: dict[int, tuple[int, int]] = {}
    for num, gen, body in sorted(objs):
        offsets[num] = (len(out), gen)
        out += f"{num} {gen} obj\n".encode() + body + b"\nendobj\n"
    xref_at = len(out)
    out += b"xref\n0 1\n0000000000 65535 f \n"
    for num, (off, gen) in sorted(offsets.items()):
        out += f"{num} 1\n{off:010d} {gen:05d} n \n".encode()
    out += (f"trailer\n<< /Size {enc_num + 1} /Root 1 0 R "
            f"/Encrypt {enc_num} 0 R /ID [<{id0.hex()}> <{id0.hex()}>]"
            f" >>\nstartxref\n{xref_at}\n%%EOF\n".encode())
    return bytes(out)


def make_jpx_pdf(images: list["object"],
                 text_lines: list[list[str]] | None = None,
                 levels: int = 2,
                 jp2_container: bool = True,
                 tile_size: int | None = None,
                 jp2_offsets: tuple[int, int] = (0, 0),
                 n_layers: int = 1,
                 progression: str = "LRCP",
                 precincts: tuple[int, int] | None = None) -> bytes:
    """Scanned-document PDF with JPEG2000 image XObjects (/JPXDecode —
    the Internet-Archive-era digitization shape). images = HxW or
    HxWx3 uint8 arrays; each becomes one full-page losslessly-coded
    JP2 (or raw codestream) image."""
    from .jp2codec import encode_jp2

    n_pages = len(images)
    if text_lines is None:
        text_lines = [[] for _ in range(n_pages)]
    objs: list[bytes] = []
    kids = " ".join(f"{3 + 3 * i} 0 R" for i in range(n_pages))
    objs.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objs.append(f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>"
                .encode())
    font_num = 3 + 3 * n_pages
    for i, (img, lines) in enumerate(zip(images, text_lines)):
        h, w = img.shape[:2]
        content = (b"q %d 0 0 %d 0 0 cm /Im0 Do Q\n" % (w, h))
        if lines:
            content += _content_stream(lines)
        body = encode_jp2(img, levels=levels,
                          jp2_container=jp2_container,
                          tile_size=tile_size,
                          offsets=jp2_offsets, n_layers=n_layers,
                          progression=progression,
                          precincts=precincts)
        cs = "/DeviceRGB" if img.ndim == 3 else "/DeviceGray"
        objs.append(
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 {w} {h}] "
            f"/Contents {4 + 3 * i} 0 R /Resources << /XObject "
            f"<< /Im0 {5 + 3 * i} 0 R >> /Font << /F1 {font_num} 0 R >> "
            f">> >>".encode())
        objs.append(f"<< /Length {len(content)} >>\nstream\n".encode()
                    + content + b"\nendstream")
        objs.append(
            f"<< /Type /XObject /Subtype /Image /Width {w} /Height {h} "
            f"/ColorSpace {cs} /BitsPerComponent 8 "
            f"/Filter /JPXDecode /Length {len(body)} >>\nstream\n"
            .encode() + body + b"\nendstream")
    objs.append(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")

    out = bytearray(b"%PDF-1.5\n")
    offsets = [0]
    for num, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += f"{num} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_at = len(out)
    out += f"xref\n0 {len(objs) + 1}\n".encode()
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += f"{off:010d} 00000 n \n".encode()
    out += (f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R >>\n"
            f"startxref\n{xref_at}\n%%EOF\n".encode())
    return bytes(out)


def make_inline_image_pdf(images: list["object"],
                          mode: str = "dct",
                          text_lines: list[list[str]] | None = None,
                          compress: bool = False) -> bytes:
    """PDF whose pages carry INLINE images (`BI ... ID <data> EI`,
    spec 8.9.7) in Flate-compressed content streams — the shape simple
    generators and fax-to-PDF converters emit for small images.
    images = HxW uint8 grayscale arrays; mode: 'dct' (JPEG, /F /DCT),
    'raw' (8-bit /CS /G samples), 'raw1' (1-bit bilevel), 'ccitt'
    (G4, /F /CCF with /DP)."""
    import numpy as np

    n_pages = len(images)
    if text_lines is None:
        text_lines = [[] for _ in range(n_pages)]
    objs: list[bytes] = []
    kids = " ".join(f"{3 + 2 * i} 0 R" for i in range(n_pages))
    objs.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objs.append(f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>"
                .encode())
    font_num = 3 + 2 * n_pages
    for i, (img, lines) in enumerate(zip(images, text_lines)):
        h, w = img.shape[:2]
        if mode == "dct":
            from .jpegcodec import encode_jpeg
            rgb = np.repeat(img[:, :, None], 3, axis=2)
            data = encode_jpeg(rgb)
            head = (f"BI /W {w} /H {h} /CS /RGB /BPC 8 /F /DCT ID "
                    .encode())
        elif mode == "raw":
            data = img.astype(np.uint8).tobytes()
            head = f"BI /W {w} /H {h} /CS /G /BPC 8 ID ".encode()
        elif mode == "rawrgb":
            rgb = np.repeat(img[:, :, None], 3, axis=2)
            data = rgb.astype(np.uint8).tobytes()
            head = (f"BI /W {w} /H {h} /ColorSpace /DeviceRGB /BPC 8 "
                    f"ID ".encode())
        elif mode == "raw1":
            bits = (img < 128).astype(np.uint8)
            data = np.packbits(1 - bits, axis=1).tobytes()
            head = f"BI /W {w} /H {h} /BPC 1 /IM true ID ".encode()
        elif mode == "ccitt":
            from .ccittcodec import g4_encode
            data = g4_encode(img.astype(np.uint8))
            head = (f"BI /W {w} /H {h} /BPC 1 /F /CCF "
                    f"/DP << /K -1 >> ID ".encode())
        else:
            raise ValueError(f"unknown inline-image mode {mode}")
        content = (b"q %d 0 0 %d 0 0 cm\n" % (w, h)
                   + head + data + b"\nEI\nQ\n")
        if lines:
            content += _content_stream(lines)
        # simple generators leave inline-image content streams RAW
        # (the default here) — that is also what lets the JVM-side
        # has_pdf_images prefilter see the BI marker
        filt = ""
        if compress:
            content = zlib.compress(content)
            filt = " /Filter /FlateDecode"
        objs.append(
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 {w} {h}] "
            f"/Contents {4 + 2 * i} 0 R /Resources << /Font << /F1 "
            f"{font_num} 0 R >> >> >>".encode())
        objs.append(f"<< /Length {len(content)}{filt} >>"
                    f"\nstream\n".encode() + content + b"\nendstream")
    objs.append(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")

    out = bytearray(b"%PDF-1.4\n")
    offsets = [0]
    for num, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += f"{num} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_at = len(out)
    out += f"xref\n0 {len(objs) + 1}\n".encode()
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += f"{off:010d} 00000 n \n".encode()
    out += (f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R >>\n"
            f"startxref\n{xref_at}\n%%EOF\n".encode())
    return bytes(out)


def make_form_pdf(pages: list[list[str]],
                  fields: list[tuple[str, str]] | None = None,
                  freetext: list[str] | None = None,
                  objstm: bool = False) -> bytes:
    """Filled interactive form: text pages plus AcroForm /Tx widget
    fields carrying /V values (latin-1 or UTF-16BE as needed) and
    FreeText annotations — the text a filled form holds that no
    content stream shows. objstm=True packs the field/annot objects
    into a Flate /ObjStm object stream (the modern-writer layout);
    combined with encrypt_pdf this produces the ISO 32000 7.6.2 shape
    where the field strings are encrypted WITH the object stream, not
    per-object."""
    fields = fields or []
    freetext = freetext or []
    base = make_pdf(pages)
    # append field/annot objects before the xref (regex-scanned, so a
    # simple incremental append keeps the base xref usable)
    xref_at = base.rindex(b"xref\n")
    startxref_old = base.rindex(b"startxref\n")
    nums_used = max(int(m.group(1)) for m in
                    __import__("re").finditer(rb"(\d+) 0 obj", base))
    out = bytearray(base[:xref_at])
    extra: list[bytes] = []
    for name, value in fields:
        try:
            vb = value.encode("latin-1")
            vs = b"(" + vb.replace(b"\\", rb"\\").replace(b"(", rb"\(") \
                .replace(b")", rb"\)") + b")"
        except UnicodeEncodeError:
            vs = b"<" + (b"\xfe\xff"
                         + value.encode("utf-16-be")).hex().encode() + b">"
        extra.append(
            b"<< /Type /Annot /Subtype /Widget /FT /Tx /T (%s) /V %s "
            b"/Rect [0 0 100 20] >>" % (name.encode("latin-1"), vs))
    for txt in freetext:
        extra.append(
            b"<< /Type /Annot /Subtype /FreeText /Contents (%s) "
            b"/Rect [0 0 100 20] >>"
            % txt.encode("latin-1").replace(b"(", rb"\(")
            .replace(b")", rb"\)"))
    offsets = []
    if objstm and extra:
        nums = [nums_used + 1 + i for i in range(len(extra))]
        offs, pos = [], 0
        for b in extra:
            offs.append(pos)
            pos += len(b) + 1
        header = " ".join(f"{n} {o}" for n, o in zip(nums, offs))
        payload = header.encode() + b"\n" + b"\n".join(extra) + b"\n"
        blob = zlib.compress(payload)
        stm_num = nums[-1] + 1
        offsets.append(len(out))
        out += (b"%d 0 obj\n" % stm_num
                + f"<< /Type /ObjStm /N {len(extra)} "
                  f"/First {len(header) + 1} /Length {len(blob)} "
                  f"/Filter /FlateDecode >>\nstream\n".encode()
                + blob + b"\nendstream\nendobj\n")
        new_xref_at = len(out)
        out += b"xref\n0 1\n0000000000 65535 f \n"
        out += b"%d 1\n%010d 00000 n \n" % (stm_num, offsets[0])
        out += (b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n"
                b"%%%%EOF\n" % (stm_num + 1, new_xref_at))
        return bytes(out)
    for i, body in enumerate(extra):
        offsets.append(len(out))
        out += b"%d 0 obj\n" % (nums_used + 1 + i) + body + b"\nendobj\n"
    new_xref_at = len(out)
    out += b"xref\n0 1\n0000000000 65535 f \n"
    for i, off in enumerate(offsets):
        out += b"%d 1\n%010d 00000 n \n" % (nums_used + 1 + i, off)
    out += (b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
            % (nums_used + len(extra) + 1, new_xref_at))
    return bytes(out)
