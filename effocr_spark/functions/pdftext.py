"""Minimal REAL PDF text extraction (the north rule's "PDF/layout
parse" branch).

Scope: text-bearing PDFs with uncompressed or filtered content
streams — simple single-byte fonts AND Type0/CID fonts (Identity-H
hex- or literal-string shows mapped through /ToUnicode CMaps; a CID
document without /ToUnicode quarantines rather than extracting
silently wrong) — with the full standard filter set a text PDF uses:
FlateDecode,
LZWDecode (PDF's 9-12-bit early-change variant), ASCIIHexDecode,
ASCII85Decode, RunLengthDecode, and chains of them (/Filter arrays,
applied in decode order per the spec). Pure stdlib (zlib + base64 +
re + hashlib), no external PDF library. Standard-security-handler RC4
encryption with an empty user password — the web's common
permissions-only locking — decrypts for real, ALL standard ciphers: RC4
(R2/R3/V2), AES-128-CBC (V4 /AESV2, functions/aescipher.py), and
AES-256-CBC (V5 R5/R6 /AESV3 — PDF 2.0's Algorithm 2.B hash);
true password-protected documents quarantine cleanly, and image
streams route to the OCR branch (DCT passes through as JPEG; CCITT
G3/G4 decode via synth/ccittcodec.py incl. EncodedByteAlign; JBIG2
generic AND symbol-coded streams decode via synth/jbig2codec.py;
JPX skips). Flate/LZW /DecodeParms predictors (TIFF differencing +
the PNG row filters, sub-byte and 16-bit components included)
un-apply for real via the PNG codec's unfilter kernel.

Layout model (the "parse" part): text is grouped into BT..ET blocks;
show operators (Tj, ', ", TJ) append to the current line; the line
advances on T*, on Td/TD with a vertical component, and on the
quote operators (which are defined as T* + show). TJ kerning numbers
more negative than -180 text-space units are treated as an inter-word
gap (the standard heuristic for extracting spaces from kerned text).
Pages are joined with a newline.

Shared by the Spark mapInPandas branch (operators/extract.dom_pdf_branch)
and the tests, so byte-parity is by construction — the same contract
as functions/domstrip.py.
"""

from __future__ import annotations

import base64
import functools
import re
import zlib

import numpy as np

_STREAM_RE = re.compile(rb"<<(.*?)>>\s*stream\r?\n(.*?)endstream", re.S)
_FILTER_RE = re.compile(rb"/Filter\s*(\[[^\]]*\]|/[A-Za-z0-9]+)")
_NAME_RE = re.compile(rb"/([A-Za-z0-9]+)")
_PREDICTOR_RE = re.compile(rb"/Predictor\s+(\d+)")
_BT_RE = re.compile(rb"BT(.*?)ET", re.S)
# one text-showing, line-advancing, or font-selecting operator at a
# time, in order. Hex strings <..> are first-class show operands — the
# encoding every Identity-H/Type0 (CID) PDF uses; `<<` never matches
# (the hex group requires a closing `>` before another `<`).
_OP_RE = re.compile(
    rb"\((?P<s>(?:\\.|[^\\()])*)\)\s*(?P<op>Tj|'|\")"   # (..) Tj / ' / "
    rb"|<(?P<hs>[0-9A-Fa-f\s]*)>\s*(?P<hop>Tj|'|\")"     # <..> Tj / ' / "
    rb"|\[(?P<arr>(?:\\.|[^\]])*)\]\s*TJ"                # [..] TJ
    rb"|(?P<tstar>T\*)"                                   # T*
    rb"|(?P<tx>-?[\d.]+)\s+(?P<ty>-?[\d.]+)\s+(?:Td|TD)"  # x y Td/TD
    rb"|(?P<tmnums>(?:-?[\d.]+\s+){6})Tm"                 # a b c d e f Tm
    rb"|/(?P<fname>[^\s/<>()\[\]]+)\s+-?[\d.]+\s+Tf",      # /F1 12 Tf
    re.S,
)
_SEG_RE = re.compile(
    rb"\((?P<s>(?:\\.|[^\\()])*)\)"
    rb"|<(?P<h>[0-9A-Fa-f\s]*)>"
    rb"|(?P<n>-?[\d.]+)")
_ESC = {b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b", b"f": b"\f",
        b"(": b"(", b")": b")", b"\\": b"\\"}

# TJ kerning more negative than this (text-space units/1000) reads as a
# word gap — the standard space-recovery heuristic
TJ_SPACE_THRESHOLD = -180.0


def is_pdf(data: bytes) -> bool:
    return data[:5] == b"%PDF-"


def _unescape(raw: bytes) -> bytes:
    out = bytearray()
    i = 0
    while i < len(raw):
        c = raw[i:i + 1]
        if c == b"\\" and i + 1 < len(raw):
            nxt = raw[i + 1:i + 2]
            if nxt in _ESC:
                out += _ESC[nxt]
                i += 2
                continue
            if nxt in b"01234567":  # octal \ooo (1-3 octal digits only;
                # \8 and \9 are NOT octal — they fall through to the
                # drop-backslash branch per the PDF spec's "unrecognized
                # escape keeps the character" rule)
                j = i + 1
                while j < min(i + 4, len(raw)) and raw[j] in b"01234567":
                    j += 1
                out.append(int(raw[i + 1: j], 8) & 0xFF)
                i = j
                continue
            i += 1  # line continuation / unknown escape: drop backslash
            continue
        out += c
        i += 1
    return bytes(out)


def _hexstr_bytes(hx: bytes) -> bytes:
    """Hex-string operand → raw string bytes (spec 7.3.4.3: whitespace
    ignored, an odd final digit is padded with 0)."""
    hx = re.sub(rb"\s+", b"", hx)
    if len(hx) % 2:
        hx += b"0"
    return bytes.fromhex(hx.decode("ascii"))


class UnresolvedFontError(ValueError):
    """Stream-scoped decode failure: text shown under a font the
    registry can't resolve (in a strict /Type0 document) or a CID font
    without /ToUnicode. The OWNING STREAM quarantines (its text is
    omitted and counted); the document as a whole only fails when no
    content stream decodes — a mixed document keeps its recoverable
    simple-font pages instead of failing closed document-wide."""


def _stream_text(body: bytes, fonts: dict | None = None,
                 strict_type0: bool = False) -> list[str]:
    """Decoded content stream → list of line strings. The font cursor
    (Tf) persists across BT..ET blocks, matching the graphics state.

    Show-operand decoding is FONT-AWARE: under a /Type0 (CID) font the
    string bytes are big-endian 2-byte CIDs (Identity-H, the encoding
    nearly every modern born-digital PDF uses) mapped to unicode via
    the font's /ToUnicode CMap — a CID font WITHOUT /ToUnicode raises
    (caller quarantines: a silent partial extract would contradict the
    pipeline's quarantine discipline); an individual unmapped CID
    yields U+FFFD (countable, never silent). Under a simple font (or no
    font tracking at all) bytes decode latin-1, hex and literal strings
    alike."""
    fonts = fonts or {}
    lines: list[list[str]] = [[]]
    cur: str | None = None

    def _show(raw: bytes) -> None:
        f = fonts.get(cur)
        if f is not None and f.get("conflict"):
            # ambiguous global binding (name rebound across resource
            # dicts, page scope couldn't disambiguate): decoding
            # through either candidate could be silently wrong
            raise UnresolvedFontError(
                f"font name /{cur} rebound to a different font object "
                f"and this stream has no page-scoped resources — "
                f"refusing to decode through the wrong cmap")
        if f is None:
            if strict_type0:
                raise UnresolvedFontError(
                    f"unresolved font /{cur} in a /Type0 document; "
                    f"cid-font text would extract silently wrong")
            lines[-1].append(raw.decode("latin-1"))
        elif f["cid"]:
            if f["map"] is None:
                raise UnresolvedFontError(
                    "cid-font text without /ToUnicode; plug a real "
                    "PDF library in")
            cmap = f["map"]
            lines[-1].append("".join(
                cmap.get((raw[k] << 8) | raw[k + 1], "�")
                for k in range(0, len(raw) - 1, 2)))
        elif f.get("map") or f.get("diffs") or f.get("base"):
            # simple font with /ToUnicode, /Differences and/or a named
            # base encoding: subset fonts remap byte codes arbitrarily
            # and WinAnsi/MacRoman differ from latin-1 in the high
            # range — latin-1 would silently garble them. Per byte:
            # ToUnicode wins, then Differences, then the named base
            # encoding table, then latin-1.
            cmap = f.get("map") or {}
            diffs = f.get("diffs") or {}
            base = f.get("base") or {}
            # explicit membership, NOT `or`-chaining: a /ToUnicode
            # entry legally maps a code to the EMPTY string (deleted /
            # non-semantic glyph) and must not fall through to latin-1
            lines[-1].append("".join(
                cmap[b_] if b_ in cmap else
                diffs[b_] if b_ in diffs else
                base[b_] if b_ in base else chr(b_)
                for b_ in raw))
        else:
            lines[-1].append(raw.decode("latin-1"))

    for block in _BT_RE.findall(body):
        if lines[-1]:
            lines.append([])
        # Tm (set-text-matrix) line tracking: Skia/Chrome print-to-PDF,
        # wkhtmltopdf and several word processors position EVERY text
        # run with `a b c d e f Tm` and never emit Td. A Tm whose f
        # (vertical translation) differs from the current known
        # baseline starts a new line; same-f Tm is horizontal run
        # positioning WITHIN the line (the wkhtmltopdf per-word shape)
        # and must NOT break. BT resets the matrix, so the first Tm of
        # a block is positioning, not a break; after a relative move
        # (Td/TD/T*/'/") the absolute baseline is unknown again — the
        # relative op already broke the line, so the next Tm
        # repositions without a second break.
        tm_f: float | None = None
        for m in _OP_RE.finditer(block):
            if m.group("s") is not None or m.group("hs") is not None:
                op = m.group("op") or m.group("hop")
                if op in (b"'", b'"'):  # defined as T* + show
                    lines.append([])
                    tm_f = None
                _show(_unescape(m.group("s"))
                      if m.group("s") is not None
                      else _hexstr_bytes(m.group("hs")))
            elif m.group("arr") is not None:
                for seg in _SEG_RE.finditer(m.group("arr")):
                    if seg.group("s") is not None:
                        _show(_unescape(seg.group("s")))
                    elif seg.group("h") is not None:
                        _show(_hexstr_bytes(seg.group("h")))
                    elif float(seg.group("n")) < TJ_SPACE_THRESHOLD:
                        lines[-1].append(" ")
            elif m.group("tstar") is not None:
                lines.append([])
                tm_f = None
            elif m.group("tmnums") is not None:
                f_new = float(m.group("tmnums").split()[5])
                # break on a changed baseline, AND on an unknown
                # baseline when the current line already has content
                # (Tm after Td-positioned text repositions somewhere)
                if (abs(f_new - tm_f) > 1e-6 if tm_f is not None
                        else bool(lines[-1])):
                    lines.append([])
                tm_f = f_new
            elif m.group("fname") is not None:
                cur = m.group("fname").decode("latin-1")
            else:  # Td / TD
                if float(m.group("ty")) != 0.0:
                    lines.append([])
                    tm_f = None
    return ["".join(ln) for ln in lines]


# --------------------------------------------- fonts and ToUnicode

_TYPE0_RE = re.compile(rb"/Subtype\s*/Type0\b")
_TOUNI_REF_RE = re.compile(rb"/ToUnicode\s+(\d+)\s+\d+\s+R")
_FONT_BIND_RE = re.compile(rb"/([^\s/<>()\[\]]+)\s+(\d+)\s+\d+\s+R")
_ENC_REF_RE = re.compile(rb"/Encoding\s+(\d+)\s+\d+\s+R")
# a simple font's named base encoding: either directly (/Encoding
# /WinAnsiEncoding) or inside an encoding dict (/BaseEncoding ...)
_BASE_ENC_NAME_RE = re.compile(
    rb"/(?:Base)?Encoding\s*/(WinAnsiEncoding|MacRomanEncoding|"
    rb"MacExpertEncoding|StandardEncoding)")

# Named simple-font base encodings (ISO 32000 Annex D). latin-1 (the
# historical fallback) is WRONG for all of these in the high range:
# WinAnsi differs in 0x80-0x9F (curly quotes, dashes, euro — the bytes
# Word-generated PDFs actually use), MacRoman differs nearly everywhere
# >= 0x80. Tables hold only the bytes that differ from latin-1; lookup
# falls through to chr(code) below them.
_WINANSI_HIGH: dict[int, str] = {}
for _b in range(0x80, 0xA0):
    try:
        _WINANSI_HIGH[_b] = bytes([_b]).decode("cp1252")
    except UnicodeDecodeError:  # 0x81 8D 8F 90 9D: undefined in cp1252
        _WINANSI_HIGH[_b] = "�"
_MACROMAN_HIGH = {_b: bytes([_b]).decode("mac_roman")
                  for _b in range(0x80, 0x100)}
# PDF's MacRomanEncoding predates Apple's euro revision: 0xDB is
# /currency (not the Mac-OS-8.5 euro Python's codec emits), and the
# 0xF0 Apple-logo slot is unassigned
_MACROMAN_HIGH[0xDB] = "¤"
_MACROMAN_HIGH[0xF0] = "�"
# Standard/MacExpert high ranges: rarely used (Standard's high slots
# are TeX-era punctuation, MacExpert is small-caps/figures plumbing);
# decode to U+FFFD — countable, never silently latin-1-wrong. Named
# seam: a full Annex D Standard table if real corpora need it.
_FFFD_HIGH = {_b: "�" for _b in range(0x80, 0x100)}
_BASE_ENC_TABLES = {
    "WinAnsiEncoding": _WINANSI_HIGH,
    "MacRomanEncoding": _MACROMAN_HIGH,
    "StandardEncoding": _FFFD_HIGH,
    "MacExpertEncoding": _FFFD_HIGH,
}
_DIFFS_RE = re.compile(rb"/Differences\s*\[((?:[^\[\]])*)\]", re.S)
_DIFF_TOK_RE = re.compile(rb"(\d+)|/([^\s/<>()\[\]]+)")

# Adobe Glyph List subset: the names real simple-font /Differences
# arrays use (TeX and subset-font output). Letters/digits resolve by
# rule below; uniXXXX parses numerically; anything else → U+FFFD
# (countable, never silent).
_AGL = {
    "space": " ", "exclam": "!", "quotedbl": '"', "numbersign": "#",
    "dollar": "$", "percent": "%", "ampersand": "&",
    "quotesingle": "'", "parenleft": "(", "parenright": ")",
    "asterisk": "*", "plus": "+", "comma": ",", "hyphen": "-",
    "period": ".", "slash": "/", "colon": ":", "semicolon": ";",
    "less": "<", "equal": "=", "greater": ">", "question": "?",
    "at": "@", "bracketleft": "[", "backslash": "\\",
    "bracketright": "]", "asciicircum": "^", "underscore": "_",
    "grave": "`", "braceleft": "{", "bar": "|", "braceright": "}",
    "asciitilde": "~", "zero": "0", "one": "1", "two": "2",
    "three": "3", "four": "4", "five": "5", "six": "6", "seven": "7",
    "eight": "8", "nine": "9",
    "fi": "fi", "fl": "fl", "ff": "ff", "ffi": "ffi", "ffl": "ffl",
    "quoteleft": "‘", "quoteright": "’",
    "quotedblleft": "“", "quotedblright": "”",
    "endash": "–", "emdash": "—", "bullet": "•",
    "ellipsis": "…", "dagger": "†", "daggerdbl": "‡",
    "perthousand": "‰", "section": "§",
    "paragraph": "¶", "cent": "¢", "sterling": "£",
    "yen": "¥", "Euro": "€", "currency": "¤",
    "copyright": "©", "registered": "®",
    "trademark": "™", "degree": "°",
    "plusminus": "±", "multiply": "×", "divide": "÷",
    "guillemotleft": "«", "guillemotright": "»",
    "guilsinglleft": "‹", "guilsinglright": "›",
    "exclamdown": "¡", "questiondown": "¿",
    "germandbls": "ß", "ae": "æ", "AE": "Æ",
    "oe": "œ", "OE": "Œ", "oslash": "ø",
    "Oslash": "Ø", "aring": "å", "Aring": "Å",
    "ccedilla": "ç", "Ccedilla": "Ç",
    "eacute": "é", "egrave": "è", "ecircumflex": "ê",
    "edieresis": "ë", "aacute": "á", "agrave": "à",
    "acircumflex": "â", "adieresis": "ä",
    "atilde": "ã", "iacute": "í", "igrave": "ì",
    "icircumflex": "î", "idieresis": "ï",
    "oacute": "ó", "ograve": "ò", "ocircumflex": "ô",
    "odieresis": "ö", "otilde": "õ", "uacute": "ú",
    "ugrave": "ù", "ucircumflex": "û",
    "udieresis": "ü", "ntilde": "ñ", "yacute": "ý",
    "ydieresis": "ÿ", "Eacute": "É", "Agrave": "À",
    "Adieresis": "Ä", "Odieresis": "Ö",
    "Udieresis": "Ü", "Ntilde": "Ñ", "eth": "ð",
    "thorn": "þ", "Thorn": "Þ", "mu": "µ",
    "minus": "−", "fraction": "⁄", "florin": "ƒ",
    "circumflex": "ˆ", "tilde": "˜", "breve": "˘",
    "dotaccent": "˙", "ring": "˚", "cedilla": "¸",
    "hungarumlaut": "˝", "ogonek": "˛", "caron": "ˇ",
    "macron": "¯", "brokenbar": "¦", "dotlessi": "ı",
    "quotesinglbase": "‚", "quotedblbase": "„",
}


def _glyph_name_to_char(name: str) -> str:
    if len(name) == 1 and ("a" <= name <= "z" or "A" <= name <= "Z"):
        return name
    if name in _AGL:
        return _AGL[name]
    if name.startswith("uni") and len(name) >= 7:
        try:
            return chr(int(name[3:7], 16))
        except ValueError:
            pass
    return "�"


def _parse_differences(enc_seg: bytes) -> dict[int, str]:
    """/Encoding /Differences array → {byte code: unicode char}. The
    array alternates ints (next code) and glyph names (consecutive
    codes from there)."""
    dm = _DIFFS_RE.search(enc_seg)
    if dm is None:
        return {}
    out: dict[int, str] = {}
    code = 0
    for num, name in _DIFF_TOK_RE.findall(dm.group(1)):
        if num:
            code = int(num)
        else:
            out[code] = _glyph_name_to_char(name.decode("latin-1"))
            code += 1
    return out
_OBJ_HEAD_RE = re.compile(rb"(\d+)\s+\d+\s+obj\b")
_CMAP_HEX_RE = re.compile(rb"<([0-9A-Fa-f\s]*)>|(\[)|(\])")
_BFCHAR_RE = re.compile(rb"beginbfchar(.*?)endbfchar", re.S)
_BFRANGE_RE = re.compile(rb"beginbfrange(.*?)endbfrange", re.S)


def _balanced_dict(data: bytes, start: int) -> bytes:
    """data[start:] begins with '<<' → the bytes of that dict through
    its matching '>>' (nesting-aware)."""
    depth = 0
    i = start
    n = len(data)
    while i < n:
        two = data[i:i + 2]
        if two == b"<<":
            depth += 1
            i += 2
        elif two == b">>":
            depth -= 1
            i += 2
            if depth == 0:
                return data[start:i]
        else:
            i += 1
    return data[start:]


def _utf16be(hx: bytes) -> str:
    b = _hexstr_bytes(hx)
    return b.decode("utf-16-be", errors="replace")


def _parse_tounicode(body: bytes) -> dict[int, str]:
    """/ToUnicode CMap stream → {CID: unicode string}. Parses
    beginbfchar (src → UTF-16BE dst, possibly multi-code-unit:
    ligatures) and beginbfrange in BOTH forms — <lo> <hi> <dstStart>
    (dst increments with the code) and <lo> <hi> [<d0> <d1> ...]
    (explicit per-code dst array)."""
    cmap: dict[int, str] = {}
    for m in _BFCHAR_RE.finditer(body):
        # keep EMPTY hex tokens (`<>` = bfchar dst mapping to the empty
        # string — legal for deleted glyphs); `is not None` drops only
        # the bracket alternatives
        toks = [mm.group(1) for mm in _CMAP_HEX_RE.finditer(m.group(1))
                if mm.group(1) is not None]
        for src, dst in zip(toks[0::2], toks[1::2]):
            if not re.sub(rb"\s+", b"", src):
                continue  # malformed: empty src code
            cmap[int(re.sub(rb"\s+", b"", src), 16)] = _utf16be(dst)
    for m in _BFRANGE_RE.finditer(body):
        # tokens: hex strings (bytes) and array brackets (str markers)
        toks: list = []
        for hx, lb, rb_ in _CMAP_HEX_RE.findall(m.group(1)):
            toks.append("[" if lb else "]" if rb_ else hx)
        i = 0
        while i + 2 < len(toks):
            lo_t, hi_t, third = toks[i], toks[i + 1], toks[i + 2]
            if isinstance(lo_t, str) or isinstance(hi_t, str):
                i += 1  # malformed entry: resync one token forward
                continue
            lo = int(re.sub(rb"\s+", b"", lo_t), 16)
            hi = int(re.sub(rb"\s+", b"", hi_t), 16)
            if third == "[":  # array form: one dst per code
                j = i + 3
                code = lo
                while j < len(toks) and toks[j] != "]":
                    if code <= hi and not isinstance(toks[j], str):
                        cmap[code] = _utf16be(toks[j])
                    code += 1
                    j += 1
                i = j + 1
            else:  # incrementing form: dst is UTF-16BE, low unit += off
                dst = re.sub(rb"\s+", b"", third)
                base = int(dst, 16) if dst else 0
                width = max(len(dst) // 2, 2)
                mask = (1 << (8 * width)) - 1
                for off in range(hi - lo + 1):
                    cmap[lo + off] = ((base + off) & mask).to_bytes(
                        width, "big").decode("utf-16-be",
                                             errors="replace")
                i += 3
    return cmap


def _expand_objstms(streams: list[tuple[bytes, bytes, int]]
                    ) -> dict[int, bytes]:
    """/Type /ObjStm object streams → {object number: object body}.

    Modern writers park most non-stream objects (page dicts, font
    dicts, CID descendants) inside compressed object streams; a raw
    `N G obj` scan cannot see them, so the font registry expands them
    here. Layout per spec 7.5.7: /N pairs of "objnum offset" ints in
    the stream head, object bodies starting at /First + offset.
    Undecodable object streams are skipped (their objects simply stay
    unresolved — which QUARANTINES CID text rather than mis-reading
    it)."""
    objmap: dict[int, bytes] = {}
    for d, b, _num in streams:
        if not re.search(rb"/Type\s*/ObjStm", d):
            continue
        try:
            body = _apply_filters(d, b)
            n = int(re.search(rb"/N\s+(\d+)", d).group(1))
            first = int(re.search(rb"/First\s+(\d+)", d).group(1))
        except (AttributeError, ValueError, NotImplementedError):
            continue
        header = body[:first].split()
        nums = [int(x) for x in header[0::2][:n]]
        offs = [int(x) for x in header[1::2][:n]]
        for i, (objnum, off) in enumerate(zip(nums, offs)):
            end = (first + offs[i + 1] if i + 1 < len(offs)
                   else len(body))
            objmap[objnum] = body[first + off: end]
    return objmap


#: sentinel entry for a font name bound to DIFFERENT font objects in
#: different resource dicts with no per-page scope to disambiguate —
#: showing text under it raises (stream-scoped, never silently wrong)
_CONFLICT = {"cid": False, "map": None, "diffs": {}, "base": None,
             "conflict": True}


def _font_entry_for(body: bytes, objects: dict[int, bytes],
                    stream_by_num: dict[int, tuple[bytes, bytes]]
                    ) -> dict:
    """One font object body → decode entry {cid, map, diffs, base}:
    Type0 detection, /ToUnicode CMap (via its stream), simple-font
    /Differences and named base encoding (/WinAnsiEncoding etc.,
    directly or as an encoding dict's /BaseEncoding)."""
    cid = _TYPE0_RE.search(body) is not None
    cmap = None
    tm = _TOUNI_REF_RE.search(body)
    if tm is not None and int(tm.group(1)) in stream_by_num:
        d, b = stream_by_num[int(tm.group(1))]
        try:
            cmap = _parse_tounicode(_apply_filters(d, b))
        except (ValueError, NotImplementedError):
            cmap = None
    diffs: dict[int, str] = {}
    base: dict[int, str] | None = None
    if not cid:
        enc_seg = body
        em = re.search(rb"/Encoding\s*<<", body)
        if em is not None:
            enc_seg = _balanced_dict(body, em.end() - 2)
            diffs = _parse_differences(enc_seg)
        else:
            erm = _ENC_REF_RE.search(body)
            if erm is not None and int(erm.group(1)) in objects:
                enc_seg = objects[int(erm.group(1))]
                diffs = _parse_differences(enc_seg)
        bm = _BASE_ENC_NAME_RE.search(enc_seg)
        if bm is not None:
            base = _BASE_ENC_TABLES[bm.group(1).decode("ascii")]
    return {"cid": cid, "map": cmap, "diffs": diffs, "base": base}


def _font_registry(data: bytes,
                   stream_by_num: dict[int, tuple[bytes, bytes]],
                   extra_objects: dict[int, bytes] | None = None
                   ) -> dict[str, dict]:
    """Document-wide font-resource map: name → {cid, map}.

    Binds every /Font <<...>> resource-dict entry across the whole
    document: indirect references (name → font object) AND inline
    direct font dicts (/F1 << /Subtype /Type1 ... >> — so a show under
    an inline simple font decodes instead of hitting the
    unresolved-font path, which raises in strict /Type0 documents).
    This registry is the FALLBACK scope — per-page /Resources maps
    (from _page_font_maps) override it for streams the page tree can
    attribute. A name rebound to a DIFFERENT font object here maps to
    the _CONFLICT sentinel: legitimate per-page reuse of /F1 resolves
    through the page scope, while a show that can only see the
    ambiguous global binding raises (stream-scoped quarantine) — fail
    closed, never silently wrong."""
    objects = {int(m.group(1)): m.group(3)
               for m in _OBJ_RE.finditer(data)}
    if extra_objects:
        objects.update(extra_objects)

    def entry(body: bytes) -> dict:
        return _font_entry_for(body, objects, stream_by_num)

    # /Font resource dicts can live in the raw object space OR inside
    # an expanded object stream — scan both
    scan_spaces = [data] + list((extra_objects or {}).values())
    # binding key: object number for indirect refs, the dict bytes for
    # inline dicts — same name + same key (e.g. shared resource dict
    # seen from two scan spaces) is fine, different keys → _CONFLICT
    bound: dict[str, object] = {}
    fonts: dict[str, dict] = {}
    for space in scan_spaces:
        for fm in re.finditer(rb"/Font\s*<<", space):
            seg = _balanced_dict(space, fm.end() - 2)
            _bind_font_dict(seg[2:-2], objects, entry, bound, fonts)
    return fonts


def _bind_font_dict(inner: bytes, objects: dict[int, bytes], entry,
                    bound: dict[str, object],
                    fonts: dict[str, dict]) -> None:
    """Parse one /Font resource dict body (`inner`, without the outer
    << >>) into `fonts`, tracking binding keys in `bound`: indirect
    refs (name N 0 R) and inline direct font dicts. A name already
    bound to a DIFFERENT key maps to the _CONFLICT sentinel."""
    for bm in _FONT_BIND_RE.finditer(inner):
        name = bm.group(1).decode("latin-1")
        num = int(bm.group(2))
        if name in bound and bound[name] != num:
            fonts[name] = _CONFLICT
            continue
        body = objects.get(num)
        if body is None:
            continue
        bound[name] = num
        fonts[name] = entry(body)
    for im in re.finditer(rb"/([^\s/<>()\[\]]+)\s*<<", inner):
        name = im.group(1).decode("latin-1")
        body = _balanced_dict(inner, im.end() - 2)
        if b"/Subtype" not in body and b"/BaseFont" not in body:
            continue  # not a font dict (e.g. nested values)
        if name in bound and bound[name] != body:
            fonts[name] = _CONFLICT
            continue
        bound[name] = body
        fonts[name] = entry(body)


_RESOURCES_REF_RE = re.compile(rb"/Resources\s+(\d+)\s+\d+\s+R")
_FONT_REF_RE = re.compile(rb"/Font\s+(\d+)\s+\d+\s+R")


def _page_font_maps(data: bytes,
                    stream_by_num: dict[int, tuple[bytes, bytes]],
                    extra_objects: dict[int, bytes] | None = None
                    ) -> dict[int, dict[str, dict]]:
    """Per-page font scoping: walk /Catalog → /Pages /Kids, read each
    PAGE's /Resources /Font dict (inline or indirect, either level),
    and map each of that page's /Contents stream object numbers to the
    page-local name → font-entry dict. Two pages legitimately reusing
    /F1 for different fonts each decode through their OWN binding
    (ISO 32000 7.8.3 resource scoping); only an intra-page conflict
    (impossible in a well-formed dict) or an unattributable stream
    falls back to the global registry's conflict handling."""
    objects = {int(m.group(1)): m.group(3)
               for m in _OBJ_RE.finditer(data)}
    if extra_objects:
        objects.update(extra_objects)

    def entry(body: bytes) -> dict:
        return _font_entry_for(body, objects, stream_by_num)

    root = None
    for _num, body in objects.items():
        if re.search(rb"/Type\s*/Catalog\b", body):
            root = body
            break
    if root is None:
        return {}
    pm = re.search(rb"/Pages\s+(\d+)\s+\d+\s+R", root)
    if pm is None:
        return {}
    out: dict[int, dict[str, dict]] = {}
    seen: set[int] = set()

    def walk(num: int) -> None:
        if num in seen or num not in objects:
            return
        seen.add(num)
        body = objects[num]
        km = _KIDS_RE.search(body)
        if km is not None:
            for rm in _REF_RE.finditer(km.group(1)):
                walk(int(rm.group(1)))
            return
        cm = _CONTENTS_RE.search(body)
        if cm is None:
            return
        # the page's /Resources: inline dict or indirect object
        res = body
        rm2 = re.search(rb"/Resources\s*<<", body)
        if rm2 is not None:
            res = _balanced_dict(body, rm2.end() - 2)
        else:
            rref = _RESOURCES_REF_RE.search(body)
            if rref is not None and int(rref.group(1)) in objects:
                res = objects[int(rref.group(1))]
            else:
                return  # no resolvable resources: global fallback
        # the /Font dict inside resources: inline or indirect
        font_inner = None
        fm = re.search(rb"/Font\s*<<", res)
        if fm is not None:
            font_inner = _balanced_dict(res, fm.end() - 2)[2:-2]
        else:
            fref = _FONT_REF_RE.search(res)
            if fref is not None and int(fref.group(1)) in objects:
                fbody = objects[int(fref.group(1))].strip()
                if fbody.startswith(b"<<") and fbody.endswith(b">>"):
                    font_inner = fbody[2:-2]
        if font_inner is None:
            return
        fonts: dict[str, dict] = {}
        _bind_font_dict(font_inner, objects, entry, {}, fonts)
        if not fonts:
            return
        refs = ([cm.group(1)] if cm.group(1) is not None
                else [r.group(1)
                      for r in _REF_RE.finditer(cm.group(2))])
        for ref in refs:
            out[int(ref)] = fonts

    walk(int(pm.group(1)))
    return out


def _plain_streams(data: bytes) -> list[tuple[bytes, bytes, int]]:
    """All streams with their owning object number → [(dict, body,
    num)]. Scanning PER OBJECT keeps each stream's dict scoped to its
    own object (a whole-document `<<.*?>>\\s*stream` scan bleeds
    preceding objects' dicts into the match and mis-attributes the
    object number). Malformed documents without N G obj envelopes fall
    back to the flat scan with num = -1 (their streams still decode or
    quarantine on their own filters)."""
    out = []
    for om in _OBJ_RE.finditer(data):
        sm = _STREAM_RE.search(om.group(3))
        if sm is not None:
            out.append((sm.group(1), sm.group(2), int(om.group(1))))
    if not out:
        out = [(d, b, -1) for d, b in _STREAM_RE.findall(data)]
    return out


def extract_pdf_text(data: bytes, password: bytes | str = b"",
                     stats: dict | None = None) -> str:
    """PDF bytes → extracted text ('' when no text content found).

    Raises on undecodable containers (caller quarantines): not-a-PDF,
    password-protected (when `password` doesn't unlock them) or
    unsupported-cipher documents, image-filter streams.
    Standard-handler RC4/AES encryption with an empty user password
    (permissions-only locking) and Flate/LZW predictors decode for
    real; `password` supplies a non-empty USER password (the freq_dict
    config pattern — threaded through dom_pdf_branch/extract_pages).

    Quarantine granularity is PER CONTENT STREAM for font-resolution
    failures (UnresolvedFontError): a mixed document with one
    undecodable Type0 stream still extracts its resolvable pages; the
    dropped-stream count lands in stats["quarantined_streams"] when a
    `stats` dict is supplied. Only if NO content stream decodes does
    the document fail closed (raise) — never a silent partial loss.
    """
    if not is_pdf(data):
        raise ValueError("not a PDF (missing %PDF- header)")
    if b"/Encrypt" in data:
        # standard-handler decryption with the supplied (default:
        # empty) user password; raises for wrong-password docs
        streams = _decrypt_streams(data, _norm_password(password))
    else:
        streams = _plain_streams(data)
    # font resources resolve over the PLAINTEXT object dicts (names and
    # dicts are never encrypted — only strings and stream bodies) PLUS
    # any /ObjStm-packed objects (the modern-writer shape); ToUnicode
    # CMap STREAMS come from the decrypted stream set
    objstm = _expand_objstms(streams)
    stream_by_num = {num: (d, b) for d, b, num in streams if num >= 0}
    fonts = _font_registry(data, stream_by_num, objstm)
    # per-page resource scoping (ISO 32000 7.8.3): a page's own /Font
    # bindings override the global registry for ITS content streams —
    # legitimate cross-page reuse of /F1 decodes correctly instead of
    # hitting the global-conflict sentinel
    page_fonts = _page_font_maps(data, stream_by_num, objstm)
    strict = (_TYPE0_RE.search(data) is not None
              or any(_TYPE0_RE.search(b) for b in objstm.values()))
    streams = _page_order(data, objstm, streams)
    lines: list[str] = []
    n_quarantined = 0
    first_font_err: UnresolvedFontError | None = None
    for dict_part, body, _num in streams:
        stream_fonts = ({**fonts, **page_fonts[_num]}
                        if _num in page_fonts else fonts)
        if b"/Subtype" in dict_part and b"/Image" in dict_part:
            continue  # image XObject: no text; see extract_pdf_images
        if _XREF_TYPE_RE.search(dict_part):
            continue  # cross-reference stream: W-packed binary, no text
        body = _apply_filters(dict_part, body)
        if b"BI" in body and b"ID" in body:
            # inline images (BI ... ID <binary> EI) carry arbitrary
            # bytes that would otherwise alias as text operators —
            # excise them before the operator scan
            body = _INLINE_IMG_RE.sub(b" ", body)
        try:
            lines.extend(_stream_text(body, stream_fonts, strict))
        except UnresolvedFontError as e:
            # stream-scoped quarantine: drop THIS stream, keep going
            n_quarantined += 1
            if first_font_err is None:
                first_font_err = e
    if first_font_err is not None and not any(ln.strip() for ln in lines):
        # nothing decoded at all — the document fails closed exactly as
        # before per-stream granularity existed
        raise first_font_err
    if stats is not None:
        stats["quarantined_streams"] = n_quarantined
    # text content OUTSIDE content streams: AcroForm text-field values
    # (/FT /Tx ... /V) and FreeText annotation /Contents. In encrypted
    # documents strings carry the same per-object (V≤4) / file (V5)
    # encryption as streams — decrypted through _string_decryptor;
    # if the decryptor can't be built, forms are omitted (fail-safe)
    dec = None
    if b"/Encrypt" in data:
        dec = _string_decryptor(data, _norm_password(password))
        if dec is None:
            text = "\n".join(ln for ln in lines if ln.strip())
            return text
    lines.extend(_form_and_annot_text(data, objstm, dec))
    text = "\n".join(ln for ln in lines if ln.strip())
    return text


_KIDS_RE = re.compile(rb"/Kids\s*\[([^\]]*)\]", re.S)
_CONTENTS_RE = re.compile(
    rb"/Contents\s*(?:(\d+)\s+\d+\s+R|\[([^\]]*)\])", re.S)
_REF_RE = re.compile(rb"(\d+)\s+\d+\s+R")


def _page_order(data: bytes, objstm: dict[int, bytes],
                streams: list[tuple[bytes, bytes, int]]
                ) -> list[tuple[bytes, bytes, int]]:
    """Reorder streams into PAGE-TREE order: walk /Type /Catalog →
    /Pages /Kids recursively, collect each page's /Contents object
    numbers in traversal order; content streams sort by that order,
    everything else (fonts, XObjects, ToUnicode, ...) keeps its file
    position after them. Incremental updates and reordered Kids arrays
    put pages OUT of object-number order in real files — a flat scan
    reads their text in the wrong sequence. Falls back to the original
    order when the tree is missing or unresolvable."""
    objects = {int(m.group(1)): m.group(3)
               for m in _OBJ_RE.finditer(data)}
    objects.update(objstm)
    root = None
    for num, body in objects.items():
        if re.search(rb"/Type\s*/Catalog\b", body):
            root = body
            break
    if root is None:
        return streams
    pm = re.search(rb"/Pages\s+(\d+)\s+\d+\s+R", root)
    if pm is None:
        return streams
    order: dict[int, int] = {}
    seen: set[int] = set()

    def walk(num: int) -> None:
        if num in seen or num not in objects:
            return
        seen.add(num)
        body = objects[num]
        km = _KIDS_RE.search(body)
        if km is not None:
            for rm in _REF_RE.finditer(km.group(1)):
                walk(int(rm.group(1)))
            return
        cm = _CONTENTS_RE.search(body)
        if cm is None:
            return
        refs = ([cm.group(1)] if cm.group(1) is not None
                else [r.group(1)
                      for r in _REF_RE.finditer(cm.group(2))])
        for ref in refs:
            n = int(ref)
            if n not in order:
                order[n] = len(order)

    walk(int(pm.group(1)))
    if not order:
        return streams
    n_pages = len(order)
    indexed = list(enumerate(streams))
    return [s for _, s in sorted(
        indexed, key=lambda t: (order.get(t[1][2], n_pages), t[0]))]


def _pdf_text_string(raw: bytes) -> str:
    """PDF text-string semantics (7.9.2.2): UTF-16BE with BOM, else
    PDFDocEncoding (≈ latin-1 for the printable range)."""
    if raw[:2] == b"\xfe\xff":
        return raw[2:].decode("utf-16-be", errors="replace")
    return raw.decode("latin-1")


_FT_TX_RE = re.compile(rb"/FT\s*/Tx\b")
_FREETEXT_RE = re.compile(rb"/Subtype\s*/FreeText\b")


def _string_decryptor(data: bytes, password: bytes = b""):
    """→ callable(raw_string_bytes, obj_num) -> plaintext bytes for
    the document's standard security handler (strings use the same
    per-object key as streams for V≤4, the file key for V5; AES
    strings are IV-prefixed CBC), or None when no decryptor can be
    built (caller omits string-sourced text — fail-safe)."""
    from .aescipher import cbc_decrypt, cbc_decrypt_nopad

    try:
        em = _ENCRYPT_REF_RE.search(data)
        if em is None:
            return None
        enc_num = int(em.group(1))
        enc_dict = None
        for om in _OBJ_RE.finditer(data):
            if int(om.group(1)) == enc_num:
                enc_dict = om.group(3)
                break
        if enc_dict is None:
            return None
        vm = re.search(rb"/V\s+(\d+)", enc_dict)
        rm = re.search(rb"/R\s+(\d+)", enc_dict)
        v = int(vm.group(1)) if vm else 0
        r = int(rm.group(1)) if rm else 2
        if v == 5:
            u = _pdf_string(enc_dict, rb"/U")
            ue = _pdf_string(enc_dict, rb"/UE")
            if u is None or ue is None:
                return None
            inter = _hash_2b(password, u[40:48], b"", r)  # lru-cached
            file_key = cbc_decrypt_nopad(inter, b"\x00" * 16, ue[:32])

            def dec_v5(raw: bytes, num: int) -> bytes:
                if not raw:
                    return raw
                return cbc_decrypt(file_key, raw[:16], raw[16:])

            return dec_v5
        cfm = b"V2"
        if v == 4:
            cm = re.search(rb"/CFM\s*/(\w+)", enc_dict)
            cfm = cm.group(1) if cm else b"V2"
            if cfm not in (b"AESV2", b"V2"):
                return None
        o = _pdf_string(enc_dict, rb"/O")
        pm = re.search(rb"/P\s+(-?\d+)", enc_dict)
        lm = re.search(rb"/Length\s+(\d+)", enc_dict)
        if o is None or pm is None:
            return None
        idm = _ID_RE.search(data)
        id0 = (bytes.fromhex(
            re.sub(rb"\s+", b"", idm.group(1)).decode()) if idm else b"")
        key = _std_key(password, o, int(pm.group(1)), id0, r,
                       (int(lm.group(1)) // 8) if lm else 5)

        def dec_classic(raw: bytes, num: int) -> bytes:
            if not raw:
                return raw
            if cfm == b"AESV2":
                return cbc_decrypt(_object_key(key, num, 0, aes=True),
                                   raw[:16], raw[16:])
            return _rc4(_object_key(key, num, 0), raw)

        return dec_classic
    except Exception:
        return None


def _form_and_annot_text(data: bytes, objstm: dict[int, bytes],
                         dec=None) -> list[str]:
    """Interactive-form text values and FreeText annotation contents,
    in object-number order — the text a filled form carries that no
    content stream shows. `dec` decrypts string values in encrypted
    documents; a string that fails to decrypt is skipped.

    Provenance matters for decryption: strings in RAW-FILE objects
    carry per-object encryption, but strings inside /ObjStm-expanded
    bodies were already decrypted with the OBJECT STREAM (ISO 32000
    7.6.2: strings in object streams are not separately encrypted) —
    applying dec() to those would garble (RC4) or drop (AES) them."""
    out: list[tuple[int, str]] = []
    spaces = [(int(m.group(1)), m.group(3), True)
              for m in _OBJ_RE.finditer(data)]
    spaces += [(num, body, False) for num, body in sorted(objstm.items())]
    for num, body, raw_file in spaces:
        if _FT_TX_RE.search(body):
            v = _pdf_string(body, rb"/V")
        elif _FREETEXT_RE.search(body):
            v = _pdf_string(body, rb"/Contents")
        else:
            continue
        if not v:
            continue
        if dec is not None and raw_file:
            try:
                v = dec(v, num)
            except ValueError:
                continue  # corrupt/undecryptable string: skip it
        if v:
            out.append((num, _pdf_text_string(v)))
    return [t for _, t in sorted(out)]


# ------------------------------------------------------ stream filters

def _apply_filters(dict_part: bytes, body: bytes) -> bytes:
    """Apply the stream's /Filter chain in decode order (the /Filter
    array lists filters in the order they shall be applied — PDF spec
    7.4), un-applying any /DecodeParms predictor after its Flate/LZW
    stage."""
    m = _FILTER_RE.search(dict_part)
    if not m:
        return body
    for name in _NAME_RE.findall(m.group(1)):
        body = _apply_one(name, body)
        if name in (b"FlateDecode", b"LZWDecode"):
            body = _unpredict(dict_part, body)
    return body


def _unpredict(dict_part: bytes, body: bytes) -> bytes:
    """Undo the /DecodeParms predictor on Flate/LZW output: 2 = TIFF
    horizontal differencing, ≥10 = PNG row filters (per-row filter
    byte, exactly PNG's — reuses the PNG codec's unfilter kernel).
    Single /DecodeParms per stream (the real-world object/xref-stream
    shape). TIFF differencing handles 8-bit, 16-bit (big-endian) AND
    packed sub-byte samples (TIFF 6.0 §14: 1/2/4-bit differencing is
    sample-wise mod 2^bpc, not byte-wise)."""
    pm = _PREDICTOR_RE.search(dict_part)
    if not pm or int(pm.group(1)) <= 1:
        return body
    pred = int(pm.group(1))

    def _param(name: bytes, default: int) -> int:
        mm = re.search(rb"/" + name + rb"\s+(\d+)", dict_part)
        return int(mm.group(1)) if mm else default

    columns = _param(b"Columns", 1)
    colors = _param(b"Colors", 1)
    bpc = _param(b"BitsPerComponent", 8)
    if bpc not in (1, 2, 4, 8, 16):
        raise ValueError(f"illegal BitsPerComponent {bpc}")
    if pred == 2:  # TIFF horizontal differencing
        if bpc == 8:
            stride = columns * colors
            if len(body) % stride:
                raise ValueError("TIFF-predictor data not row-aligned")
            rows = np.frombuffer(body, np.uint8) \
                .reshape(-1, stride).copy()
            for x in range(colors, stride):
                rows[:, x] = (rows[:, x] + rows[:, x - colors]) & 0xFF
            return rows.tobytes()
        if bpc == 16:  # big-endian 16-bit samples
            stride = columns * colors * 2
            if len(body) % stride:
                raise ValueError("TIFF-predictor data not row-aligned")
            rows = np.frombuffer(body, ">u2") \
                .reshape(-1, columns * colors).astype(np.uint32)
            for x in range(colors, columns * colors):
                rows[:, x] = (rows[:, x] + rows[:, x - colors]) & 0xFFFF
            return rows.astype(">u2").tobytes()
        # sub-byte (1/2/4-bit): differencing operates on packed
        # sub-byte SAMPLES, not bytes (TIFF 6.0 §14) — unpack each
        # byte-aligned row to samples, cumulative-sum per color channel
        # mod 2^bpc, repack
        stride = (columns * colors * bpc + 7) // 8
        if len(body) % stride:
            raise ValueError("TIFF-predictor data not row-aligned")
        raw = np.frombuffer(body, np.uint8).reshape(-1, stride)
        bits = np.unpackbits(raw, axis=1)[:, : columns * colors * bpc]
        weights = 1 << np.arange(bpc - 1, -1, -1)
        samples = (bits.reshape(bits.shape[0], -1, bpc)
                   * weights).sum(axis=2).astype(np.uint32)
        mask = (1 << bpc) - 1
        for x in range(colors, columns * colors):
            samples[:, x] = (samples[:, x] + samples[:, x - colors]) \
                & mask
        out_bits = ((samples[:, :, None]
                     >> np.arange(bpc - 1, -1, -1)) & 1) \
            .reshape(samples.shape[0], -1).astype(np.uint8)
        return np.packbits(out_bits, axis=1).tobytes()
    if pred >= 10:  # PNG row filters — BYTE-oriented whatever bpc is
        # (PNG spec: sub-byte pixels filter with bpp rounded up to 1
        # byte; 16-bit components use bpp = 2·colors)
        stride = (columns * colors * bpc + 7) // 8
        bpp = max(1, (colors * bpc + 7) // 8)
        if len(body) % (stride + 1):
            raise ValueError("PNG-predictor data not row-aligned")
        h = len(body) // (stride + 1)
        from ..synth.imgcodec import _unfilter

        return _unfilter(np.frombuffer(body, np.uint8), h, stride,
                         bpp).tobytes()
    raise NotImplementedError(f"predictor {pred}")


#: per-stream decompression ceiling. At 100 TB a single crafted (or
#: corrupt) deflate/LZW stream expanding to gigabytes would OOM the
#: whole executor, taking every other document in the task down with
#: it — cap and quarantine THAT DOCUMENT instead. 256 MB is far above
#: any legitimate single content/image stream.
MAX_STREAM_BYTES = 256 << 20


def _capped_flate(body: bytes) -> bytes:
    d = zlib.decompressobj()
    out = d.decompress(body, MAX_STREAM_BYTES)
    if d.unconsumed_tail or (not d.eof and len(out) >= MAX_STREAM_BYTES):
        # cap hit with input left over OR with all input consumed but
        # output still pending inside the decompressor — both are the
        # bomb shape
        raise ValueError(
            "stream expansion exceeds MAX_STREAM_BYTES "
            "(decompression bomb) — quarantining document")
    if not d.eof:
        # truncated/incomplete deflate stream: plain zlib.decompress
        # raised zlib.error here (document quarantined); decompressobj
        # silently returns the partial output — fail closed, and keep
        # the exception type so _apply_one's strip-retry still works
        raise zlib.error("incomplete deflate stream (no EOF marker)")
    return out


def _apply_one(name: bytes, body: bytes) -> bytes:
    if name == b"FlateDecode":
        try:
            return _capped_flate(body.strip(b"\r\n"))
        except zlib.error:
            # some writers keep trailing EOL bytes in /Length
            return _capped_flate(body)
    if name == b"LZWDecode":
        return lzw_decode(body.strip(b"\r\n"))
    if name == b"ASCIIHexDecode":
        return ascii_hex_decode(body)
    if name == b"ASCII85Decode":
        return ascii85_decode(body)
    if name == b"RunLengthDecode":
        return run_length_decode(body)
    raise NotImplementedError(
        f"unsupported stream filter /{name.decode('latin-1')}; "
        f"plug a real PDF library in")


def extract_pdf_images(data: bytes,
                       password: bytes | str = b"") -> list[bytes]:
    """Image XObjects → list of image byte strings the OCR branch can
    sniff-route: /DCTDecode images pass through as the embedded JPEG
    bytes; /CCITTFaxDecode Group 4 images (K < 0 — what scanned
    newspapers actually carry) are DECODED by the from-scratch T.6
    codec (synth/ccittcodec.py) and re-emitted as PNG; /JBIG2Decode via
    the T.88 codec (synth/jbig2codec.py); /JPXDecode (JPEG2000) via
    the T.800 codec (synth/jp2codec.py), both re-emitted as PNG. Outer
    transport filters (ASCII85, Flate, ...) are applied first;
    standard-handler decryption applies when the document is
    encrypted. This feeds the scanned-PDF OCR fusion — the north
    star's 'embedded images/PDF layouts' input. Remaining image shapes
    (raw samplers, unsupported codec modes) are skipped:
    quarantine-by-omission, the text layer still extracts."""
    if not is_pdf(data):
        raise ValueError("not a PDF (missing %PDF- header)")
    streams = (_decrypt_streams(data, _norm_password(password))
               if b"/Encrypt" in data else _plain_streams(data))
    by_num = {num: (d, b) for d, b, num in streams if num >= 0}
    out: list[bytes] = []
    for dict_part, body, _num in streams:
        if b"/Subtype" not in dict_part or b"/Image" not in dict_part:
            # content streams may carry INLINE images (BI ... ID ... EI)
            if b"/Font" in dict_part or _XREF_TYPE_RE.search(dict_part):
                continue
            try:
                decoded = _apply_filters(dict_part, body)
            except (ValueError, NotImplementedError, zlib.error):
                continue
            if b"BI" in decoded and b"ID" in decoded:
                out.extend(_inline_images(decoded))
            continue
        m = _FILTER_RE.search(dict_part)
        if m is None:
            continue
        names = _NAME_RE.findall(m.group(1))
        if not names or names[-1] not in (b"DCTDecode",
                                          b"CCITTFaxDecode",
                                          b"JBIG2Decode",
                                          b"JPXDecode"):
            continue
        try:
            for name in names[:-1]:
                body = _apply_one(name, body)
            if names[-1] == b"CCITTFaxDecode":
                body = _ccitt_to_png(dict_part, body)
            elif names[-1] == b"JBIG2Decode":
                body = _jbig2_to_png(dict_part, body, by_num)
            elif names[-1] == b"JPXDecode":
                body = _jpx_to_png(body)
        except (ValueError, NotImplementedError):
            continue
        out.append(body)
    return out


_INLINE_IMG_RE = re.compile(
    rb"\bBI\b(?P<dict>.*?)\bID(?P<data>.*?)(?<=[\s\x00])EI(?=[\s\x00)]|$)",
    re.S)
_INLINE_FILTER_MAP = {
    b"AHx": b"ASCIIHexDecode", b"ASCIIHexDecode": b"ASCIIHexDecode",
    b"A85": b"ASCII85Decode", b"ASCII85Decode": b"ASCII85Decode",
    b"LZW": b"LZWDecode", b"LZWDecode": b"LZWDecode",
    b"Fl": b"FlateDecode", b"FlateDecode": b"FlateDecode",
    b"RL": b"RunLengthDecode", b"RunLengthDecode": b"RunLengthDecode",
    b"CCF": b"CCITTFaxDecode", b"CCITTFaxDecode": b"CCITTFaxDecode",
    b"DCT": b"DCTDecode", b"DCTDecode": b"DCTDecode",
}


def _inline_images(content: bytes) -> list[bytes]:
    """Inline images (`BI ... ID <binary> EI`, spec 8.9.7) inside a
    DECODED content stream → image byte strings for the OCR branch:
    DCT passes through as JPEG bytes, CCITTFax decodes via the fax
    codec, raw 8-bit gray/RGB and 1-bit samples wrap as PNG. Filter
    names accept the BI abbreviations (AHx/A85/LZW/Fl/RL/CCF/DCT).
    Undecodable inline images are skipped (quarantine-by-omission)."""
    from ..synth.imgcodec import encode_png

    out: list[bytes] = []
    for m in _INLINE_IMG_RE.finditer(content):
        d = m.group("dict")
        body = m.group("data")
        # ID is followed by exactly one whitespace byte before data
        if body[:1] in (b" ", b"\n", b"\r", b"\t", b"\x00"):
            body = body[1:]
        # trailing whitespace before EI belongs to the delimiter
        body = body.rstrip(b"\x00")
        try:
            names = [
                _INLINE_FILTER_MAP[n] for n in _NAME_RE.findall(
                    (re.search(
                        rb"/F(?:ilter)?\s*(\[[^\]]*\]|/[A-Za-z0-9]+)",
                        d) or [None, b""]).__getitem__(1) or b"")
            ]
        except KeyError:
            continue  # unknown inline filter: skip
        def iparm(name: bytes, default: int) -> int:
            mm = re.search(rb"/" + name + rb"\b\s+(-?\d+)", d)
            return int(mm.group(1)) if mm else default
        w = iparm(b"W", 0) or iparm(b"Width", 0)
        h = iparm(b"H", 0) or iparm(b"Height", 0)
        bpc = iparm(b"BPC", 0) or iparm(b"BitsPerComponent", 8)
        if w <= 0 or h <= 0:
            continue
        try:
            for name in names[:-1] if names and names[-1] in (
                    b"DCTDecode", b"CCITTFaxDecode") else names:
                body = _apply_one(name, body)
            if names and names[-1] == b"DCTDecode":
                # guard against the non-greedy EI scan truncating a
                # JPEG whose body happens to contain "\nEI " — require
                # the EOI marker before passing bytes through
                if body[:2] == b"\xff\xd8" and b"\xff\xd9" in body:
                    out.append(body)
                continue
            if names and names[-1] == b"CCITTFaxDecode":
                dp = re.search(rb"/DP?\s*<<(.*?)>>", d, re.S)
                parms = ((dp.group(1) if dp else b"")
                         + b" /Columns %d /Rows %d" % (w, h))
                out.append(_ccitt_to_png(parms, body))
                continue
            # raw samples: 8-bit gray/RGB or 1-bit bilevel. The RGB
            # test matches an explicit /CS (or /ColorSpace) NAME TOKEN
            # — a bare substring test would misread any dict that
            # merely contains the letters RGB (e.g. an unrelated name)
            # as 3-component whenever the body is long enough
            rgb_cs = re.search(
                rb"/C(?:S|olorSpace)\s*/(?:DeviceRGB|RGB|CalRGB)\b",
                d) is not None
            if bpc == 8:
                n = w * h
                if len(body) >= 3 * n and rgb_cs:
                    arr = np.frombuffer(body, np.uint8,
                                        3 * n).reshape(h, w, 3)
                elif len(body) >= n:
                    arr = np.frombuffer(body, np.uint8, n).reshape(h, w)
                else:
                    continue
            elif bpc == 1:
                stride = (w + 7) // 8
                if len(body) < stride * h:
                    continue
                bits = np.unpackbits(
                    np.frombuffer(body, np.uint8, stride * h)
                    .reshape(h, stride), axis=1)[:, :w]
                # sample 0 = black in DeviceGray; image masks (/IM
                # true) paint where sample is 0 as well
                arr = np.where(bits == 0, np.uint8(0), np.uint8(255))
            else:
                continue
            out.append(encode_png(arr))
        except (ValueError, NotImplementedError, zlib.error):
            continue
    return out


def _jpx_to_png(body: bytes) -> bytes:
    """/JPXDecode stream (JP2 container or raw codestream) → PNG bytes
    via the from-scratch T.800 codec (synth/jp2codec.py). Unsupported
    JPEG2000 feature sets raise (caller skips —
    quarantine-by-omission)."""
    from ..synth.imgcodec import encode_png
    from ..synth.jp2codec import decode_jp2

    return encode_png(decode_jp2(body))


_JBIG2_GLOBALS_RE = re.compile(rb"/JBIG2Globals\s+(\d+)\s+\d+\s+R")


def _jbig2_to_png(dict_part: bytes, body: bytes,
                  by_num: dict[int, tuple[bytes, bytes]]) -> bytes:
    """/JBIG2Decode stream → PNG bytes via the from-scratch T.88 codec
    (synth/jbig2codec.py: MQ coder + generic regions, MMR via the T.6
    codec). A /JBIG2Globals stream (shared segments) is resolved and
    prepended when referenced. Symbol/text/halftone segments raise
    (caller skips — quarantine-by-omission)."""
    from ..synth.imgcodec import encode_png
    from ..synth.jbig2codec import jbig2_decode_embedded

    gdata = None
    gm = _JBIG2_GLOBALS_RE.search(dict_part)
    if gm is not None and int(gm.group(1)) in by_num:
        gd, gb = by_num[int(gm.group(1))]
        gdata = _apply_filters(gd, gb)
    return encode_png(jbig2_decode_embedded(body, gdata))


def _ccitt_to_png(dict_part: bytes, body: bytes) -> bytes:
    """/CCITTFaxDecode stream → PNG bytes via the fax codecs: K < 0 →
    G4 (T.6), K = 0 → G3 1-D MH, K > 0 → G3 mixed (per-line tag
    bits); /EncodedByteAlign honored (byte-aligned row starts)."""
    def _iparm(name: bytes, default: int) -> int:
        mm = re.search(rb"/" + name + rb"\s+(-?\d+)", dict_part)
        return int(mm.group(1)) if mm else default

    k = _iparm(b"K", 0)
    balign = re.search(rb"/EncodedByteAlign\s+true",
                       dict_part) is not None
    columns = _iparm(b"Columns", 1728)
    rows = _iparm(b"Rows", 0) or _iparm(b"Height", 0) or None
    black1 = re.search(rb"/BlackIs1\s+true", dict_part) is not None
    from ..synth.ccittcodec import ccitt_decode
    from ..synth.imgcodec import encode_png

    return encode_png(
        ccitt_decode(body, k, columns, rows, black1, balign))


def ascii_hex_decode(body: bytes) -> bytes:
    """ASCIIHexDecode (spec 7.4.2): whitespace ignored, '>' is EOD, an
    odd final digit is padded with 0."""
    end = body.find(b">")
    hx = re.sub(rb"\s+", b"", body[:end if end >= 0 else len(body)])
    if len(hx) % 2:
        hx += b"0"
    try:
        return bytes.fromhex(hx.decode("ascii"))
    except (ValueError, UnicodeDecodeError) as e:
        raise ValueError(f"bad ASCIIHex stream: {e}") from None


def ascii85_decode(body: bytes) -> bytes:
    """ASCII85Decode (spec 7.4.3): '~>' EOD, whitespace ignored, 'z'
    group shorthand — stdlib a85decode implements exactly this."""
    body = re.sub(rb"\s+", b"", body)
    end = body.find(b"~>")
    if end >= 0:
        body = body[:end]
    if body.startswith(b"<~"):  # some writers emit the Adobe frame
        body = body[2:]
    try:
        return base64.a85decode(body)
    except ValueError as e:
        raise ValueError(f"bad ASCII85 stream: {e}") from None


def run_length_decode(body: bytes) -> bytes:
    """RunLengthDecode (spec 7.4.5): length byte L: 0-127 → copy L+1
    literal bytes; 129-255 → repeat next byte 257-L times; 128 EOD."""
    out = bytearray()
    i = 0
    while i < len(body):
        L = body[i]
        if L == 128:
            break
        if L < 128:
            chunk = body[i + 1: i + 2 + L]
            if len(chunk) != L + 1:
                raise ValueError("truncated RunLength literal")
            out += chunk
            i += 2 + L
        else:
            if i + 1 >= len(body):
                raise ValueError("truncated RunLength run")
            out += bytes([body[i + 1]]) * (257 - L)
            i += 2
    return bytes(out)


def lzw_decode(body: bytes) -> bytes:
    """LZWDecode (spec 7.4.4): MSB-first variable-width codes 9→12
    bits, clear=256, EOD=257, early code-width change (the PDF
    default EarlyChange=1)."""
    out = bytearray()
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    width = 9
    prev: bytes | None = None
    acc = nbits = 0
    for byte in body:
        acc = (acc << 8) | byte
        nbits += 8
        while nbits >= width:
            nbits -= width
            code = (acc >> nbits) & ((1 << width) - 1)
            if code == 256:  # clear table
                table = [bytes([i]) for i in range(256)] + [b"", b""]
                width = 9
                prev = None
                continue
            if code == 257:  # EOD
                return bytes(out)
            if prev is None:
                if code >= len(table):
                    raise ValueError("bad first LZW code")
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            elif code == len(table):  # the KwKwK case
                entry = prev + prev[:1]
                table.append(entry)
            else:
                raise ValueError("LZW code out of range")
            out += entry
            if len(out) > MAX_STREAM_BYTES:
                raise ValueError(
                    "LZW expansion exceeds MAX_STREAM_BYTES "
                    "(decompression bomb) — quarantining document")
            prev = entry
            # early change: grow width one code EARLY (PDF default)
            if len(table) >= (1 << width) - 1 and width < 12:
                width += 1
    return bytes(out)


def lzw_encode(data: bytes) -> bytes:
    """LZW encoder matching lzw_decode (fixture generation; same
    early-change variant). Emits clear, codes, EOD."""
    out = bytearray()
    acc = nbits = 0

    def put(code: int, width: int):
        nonlocal acc, nbits
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            nbits -= 8
            out.append((acc >> nbits) & 0xFF)

    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    next_code = 258
    width = 9
    put(256, width)
    w = b""
    for b in data:
        wc = w + bytes([b])
        if wc in table:
            w = wc
            continue
        put(table[w], width)
        table[wc] = next_code
        next_code += 1
        # the decoder grows its read width when ITS table (one entry
        # behind ours) reaches 2^width - 1 → grow when next_code passes
        if next_code >= (1 << width) and width < 12:
            width += 1
        w = bytes([b])
    if w:
        put(table[w], width)
    put(257, width)
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


# ----------------------------------------------- standard encryption
# PDF standard security handler, every standard revision: R2 (40-bit
# RC4), R3 (128-bit RC4), R4 (/AESV2 AES-128-CBC), R5/R6 (/AESV3
# AES-256-CBC, PDF 2.0 Algorithm 2.B). Most "encrypted" web PDFs are
# permissions-only: empty USER password, everything decryptable — this
# makes those extractable. True password-protected documents (U check
# fails) quarantine with a named error.

_PDF_PAD = bytes([
    0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41, 0x64, 0x00, 0x4E,
    0x56, 0xFF, 0xFA, 0x01, 0x08, 0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68,
    0x3E, 0x80, 0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A])

_ENCRYPT_REF_RE = re.compile(rb"/Encrypt\s+(\d+)\s+(\d+)\s+R")
_ID_RE = re.compile(rb"/ID\s*\[\s*<([0-9A-Fa-f\s]*)>")
_OBJ_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b(.*?)endobj", re.S)
_STR_RE_TPL = rb"%s\s*(?:\((?P<lit>(?:\\.|[^\\()])*)\)|<(?P<hex>[0-9A-Fa-f\s]*)>)"


def _rc4(key: bytes, data: bytes) -> bytes:
    s = list(range(256))
    j = 0
    for i in range(256):
        j = (j + s[i] + key[i % len(key)]) & 0xFF
        s[i], s[j] = s[j], s[i]
    out = bytearray()
    i = j = 0
    for c in data:
        i = (i + 1) & 0xFF
        j = (j + s[i]) & 0xFF
        s[i], s[j] = s[j], s[i]
        out.append(c ^ s[(s[i] + s[j]) & 0xFF])
    return bytes(out)


def _pdf_string(dict_part: bytes, key: bytes) -> bytes | None:
    m = re.search(_STR_RE_TPL % key, dict_part, re.S)
    if not m:
        return None
    if m.group("lit") is not None:
        return _unescape(m.group("lit"))
    return bytes.fromhex(re.sub(rb"\s+", b"", m.group("hex")).decode())


def _std_key(user_pw: bytes, o: bytes, p: int, id0: bytes,
             r: int, key_len: int) -> bytes:
    """Algorithm 3.2: file encryption key from the (padded) user
    password."""
    import hashlib
    import struct as _struct

    padded = (user_pw + _PDF_PAD)[:32]
    digest = hashlib.md5(padded + o[:32]
                         + _struct.pack("<i", p) + id0).digest()
    if r >= 3:
        for _ in range(50):
            digest = hashlib.md5(digest[:key_len]).digest()
    return digest[:key_len]


def _check_user_password(key: bytes, u: bytes, id0: bytes, r: int) -> bool:
    """Algorithms 3.4/3.5: recompute U and compare."""
    import hashlib

    if r == 2:
        return _rc4(key, _PDF_PAD) == u[:32]
    x = hashlib.md5(_PDF_PAD + id0).digest()
    t = _rc4(key, x)
    for i in range(1, 20):
        t = _rc4(bytes(b ^ i for b in key), t)
    return t == u[:16]


def _object_key(key: bytes, num: int, gen: int,
                aes: bool = False) -> bytes:
    """Algorithm 3.1: per-object key. For /AESV2 the salt bytes
    'sAlT' (0x73416C54) are appended before hashing, per the spec."""
    import hashlib
    import struct as _struct

    ext = key + _struct.pack("<I", num)[:3] + _struct.pack("<I", gen)[:2]
    if aes:
        ext += b"sAlT"
    return hashlib.md5(ext).digest()[: min(len(key) + 5, 16)]


_XREF_TYPE_RE = re.compile(rb"/Type\s*/XRef\b")
_METADATA_TYPE_RE = re.compile(rb"/Type\s*/Metadata\b")


def _norm_password(password: bytes | str) -> bytes:
    """UTF-8-encode and truncate to 127 bytes (ISO 32000-2 7.6.4.3.3's
    SASLprep step is a no-op for the passwords a pipeline config
    carries)."""
    if isinstance(password, str):
        password = password.encode("utf-8")
    return password[:127]


def _skip_decrypt(dict_part: bytes, encrypt_metadata: bool) -> bool:
    """Streams the standard security handler leaves UNencrypted:
    cross-reference streams always (ISO 32000-2 7.5.8.2 — they must be
    readable before the key is known), and /Metadata streams when the
    encryption dictionary says /EncryptMetadata false."""
    if _XREF_TYPE_RE.search(dict_part):
        return True
    if not encrypt_metadata and _METADATA_TYPE_RE.search(dict_part):
        return True
    return False


def _decrypt_streams(data: bytes,
                     password: bytes = b"") -> list[tuple[bytes, bytes, int]]:
    """Standard-handler decryption with the supplied (default: empty)
    user password:
    → [(stream dict, decrypted body, object number)] for every stream,
    or raises NotImplementedError for truly password-protected /
    unsupported-cipher documents. Cross-reference streams (and
    /Metadata when /EncryptMetadata false) pass through as the
    plaintext they are; a single stream whose ciphertext is corrupt is
    skipped, not document-fatal (the key was already validated)."""
    em = _ENCRYPT_REF_RE.search(data)
    if em is None:
        raise ValueError("no /Encrypt reference")
    enc_num = int(em.group(1))
    enc_dict = None
    objs: list[tuple[int, int, bytes]] = []
    for om in _OBJ_RE.finditer(data):
        num, gen, body = int(om.group(1)), int(om.group(2)), om.group(3)
        objs.append((num, gen, body))
        if num == enc_num:
            enc_dict = body
    if enc_dict is None:
        raise ValueError("missing encryption dictionary object")
    vm = re.search(rb"/V\s+(\d+)", enc_dict)
    rm = re.search(rb"/R\s+(\d+)", enc_dict)
    pm = re.search(rb"/P\s+(-?\d+)", enc_dict)
    lm = re.search(rb"/Length\s+(\d+)", enc_dict)
    v = int(vm.group(1)) if vm else 0
    r = int(rm.group(1)) if rm else 2
    cfm = b"V2"  # RC4 for V 1/2
    if v == 4:
        # crypt-filter dictionary: only the standard /StdCF shape with
        # /CFM /AESV2 (AES-128-CBC) or /V2 (RC4) is handled
        cm = re.search(rb"/CFM\s*/(\w+)", enc_dict)
        cfm = cm.group(1) if cm else b"V2"
        if cfm not in (b"AESV2", b"V2"):
            raise NotImplementedError(
                f"crypt filter /{cfm.decode('latin-1')} (custom); "
                f"plug a real PDF library in")
    elif v == 5:
        return _decrypt_streams_v5(data, enc_dict, enc_num, objs, r,
                                   password)
    elif v not in (1, 2):
        raise NotImplementedError(
            f"encryption V={v} (custom crypt filters); plug a real "
            f"PDF library in")
    if r not in (2, 3, 4):
        raise NotImplementedError(
            f"encryption revision R={r}; plug a real PDF library in")
    o = _pdf_string(enc_dict, rb"/O")
    u = _pdf_string(enc_dict, rb"/U")
    if o is None or u is None or pm is None:
        raise ValueError("malformed encryption dictionary")
    p = int(pm.group(1))
    key_len = (int(lm.group(1)) // 8) if lm else 5
    idm = _ID_RE.search(data)
    id0 = (bytes.fromhex(re.sub(rb"\s+", b"", idm.group(1)).decode())
           if idm else b"")
    key = _std_key(password, o, p, id0, r, key_len)
    if not _check_user_password(key, u, id0, r):
        raise NotImplementedError(
            "password-protected PDF (wrong user password); plug a "
            "real PDF library in" if password else
            "password-protected PDF (non-empty user password); plug a "
            "real PDF library in")
    encrypt_metadata = (re.search(rb"/EncryptMetadata\s+false",
                                  enc_dict) is None)
    out = []
    for num, gen, body in objs:
        sm = _STREAM_RE.search(body)
        if sm is None or num == enc_num:
            continue
        if _skip_decrypt(sm.group(1), encrypt_metadata):
            out.append((sm.group(1), sm.group(2), num))
            continue
        if cfm == b"AESV2":
            ok_key = _object_key(key, num, gen, aes=True)
            sbody = sm.group(2)  # NOT `data` — don't shadow the PDF arg
            # the regex body includes any EOL before `endstream`; real
            # ciphertext is block-aligned, so strip EOL bytes only while
            # misaligned (mirrors the Flate .strip retry)
            while (len(sbody) - 16) % 16 and sbody[-1:] in (b"\n", b"\r"):
                sbody = sbody[:-1]
            from .aescipher import cbc_decrypt
            try:
                if len(sbody) < 16:
                    raise ValueError("AESV2 stream shorter than its IV")
                body_out = cbc_decrypt(ok_key, sbody[:16], sbody[16:])
            except ValueError:
                continue  # one corrupt stream ≠ a corrupt document
        else:
            body_out = _rc4(_object_key(key, num, gen), sm.group(2))
        out.append((sm.group(1), body_out, num))
    return out


@functools.lru_cache(maxsize=256)
def _hash_2b(pw: bytes, salt: bytes, udata: bytes, r: int) -> bytes:
    """PDF 2.0 Algorithm 2.B password hash. R5 (the deprecated Adobe
    extension) is a single SHA-256; R6 iterates SHA-256/384/512 through
    an AES-128-CBC mixing loop: K1 = 64·(pw‖K‖udata), E = CBC(K[:16],
    iv=K[16:32], K1), next hash picked by sum(E[:16]) mod 3, stopping
    once round ≥ 64 and E[-1] ≤ round − 32."""
    import hashlib

    from .aescipher import cbc_encrypt_nopad

    k = hashlib.sha256(pw + salt + udata).digest()
    if r < 6:
        return k
    rnd = 0
    while True:
        k1 = (pw + k + udata) * 64
        e = cbc_encrypt_nopad(k[:16], k[16:32], k1)
        k = (hashlib.sha256, hashlib.sha384,
             hashlib.sha512)[sum(e[:16]) % 3](e).digest()
        rnd += 1
        if rnd >= 64 and e[-1] <= rnd - 32:
            return k[:32]


def _decrypt_streams_v5(data: bytes, enc_dict: bytes, enc_num: int,
                        objs: list[tuple[int, int, bytes]], r: int,
                        password: bytes = b"",
                        ) -> list[tuple[bytes, bytes, int]]:
    """AES-256 security handler (V5: R5 legacy / R6 = PDF 2.0 /AESV3)
    with the supplied (default: empty) USER password: unwrap the
    32-byte file key from /UE with the key-salt hash and prove it via
    the /Perms single-block check (ISO 32000-2 7.6.4.4.12 — one
    Algorithm 2.B evaluation instead of two, which matters because R6's
    hash costs ~0.2s in pure Python); fall back to the /U validation
    hash when /Perms is absent. Streams AES-256-CBC-decrypt with the
    FILE key directly (V5 has no per-object key derivation; the IV is
    the stream's first 16 bytes, padding is PKCS#7 — same framing as
    /AESV2). Cross-reference streams (and /Metadata under
    /EncryptMetadata false) are spec-unencrypted and pass through; a
    single corrupt stream is skipped, not document-fatal."""
    from .aescipher import cbc_decrypt, cbc_decrypt_nopad, ecb_decrypt_block

    if r not in (5, 6):
        raise NotImplementedError(
            f"encryption V=5 revision R={r}; plug a real PDF library in")
    cm = re.search(rb"/CFM\s*/(\w+)", enc_dict)
    if cm is not None and cm.group(1) != b"AESV3":
        raise NotImplementedError(
            f"V=5 crypt filter /{cm.group(1).decode('latin-1')}; "
            f"plug a real PDF library in")
    u = _pdf_string(enc_dict, rb"/U")
    ue = _pdf_string(enc_dict, rb"/UE")
    if u is None or ue is None or len(u) < 48 or len(ue) < 32:
        raise ValueError("malformed V5 encryption dictionary")
    perms = _pdf_string(enc_dict, rb"/Perms")
    inter = _hash_2b(password, u[40:48], b"", r)
    file_key = cbc_decrypt_nopad(inter, b"\x00" * 16, ue[:32])
    validated = (perms is not None and len(perms) >= 16
                 and ecb_decrypt_block(file_key, perms[:16])[9:12]
                 == b"adb")
    if not validated and _hash_2b(password, u[32:40], b"", r) != u[:32]:
        raise NotImplementedError(
            "password-protected PDF (wrong user password); plug a "
            "real PDF library in" if password else
            "password-protected PDF (non-empty user password); plug a "
            "real PDF library in")
    encrypt_metadata = (re.search(rb"/EncryptMetadata\s+false",
                                  enc_dict) is None)
    out = []
    for num, gen, body in objs:
        sm = _STREAM_RE.search(body)
        if sm is None or num == enc_num:
            continue
        if _skip_decrypt(sm.group(1), encrypt_metadata):
            out.append((sm.group(1), sm.group(2), num))
            continue
        sbody = sm.group(2)
        while (len(sbody) - 16) % 16 and sbody[-1:] in (b"\n", b"\r"):
            sbody = sbody[:-1]
        try:
            if len(sbody) < 16:
                raise ValueError("AESV3 stream shorter than its IV")
            body_out = cbc_decrypt(file_key, sbody[:16], sbody[16:])
        except ValueError:
            continue  # one corrupt stream ≠ a corrupt document
        out.append((sm.group(1), body_out, num))
    return out
