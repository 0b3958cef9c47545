"""TTF/OpenType cmap reader (S6 font source, SURVEY §2.1) — stdlib-only.

The reference enumerates a font's unicode coverage with fontTools
(`get_unicode_coverage_from_ttf`,
format_effocr_recognizer_dataset.py:188-192: union of
`cmap.items()` over every cmap subtable) to decide which charset
entries the glyph renderer can draw. fontTools is not in this
container, so this is a from-scratch sfnt + cmap parser covering the
subtable formats that carry unicode mappings in practice:

- format 4 (segment mapping to delta values) — the BMP workhorse every
  TrueType font ships (both idDelta and glyphIdArray/idRangeOffset
  segment encodings);
- format 12 (segmented coverage) — supplementary-plane fonts;
- format 6 (trimmed table) — small legacy fonts;
- format 0 (byte encoding) — legacy Macintosh tables;
- format 13 (many-to-one ranges) — 'last resort' fallback fonts.

Unsupported formats (2, 8, 10, 14) are SKIPPED like fontTools'
ignoreDecompileErrors skips broken tables — coverage is the union of
the subtables we can read. Structural corruption (bad magic, truncated
tables, offsets out of bounds) raises ValueError for the caller to
quarantine, mirroring the pdf/jpeg codec seams.

Layout reference: the public OpenType/TrueType specification
('cmap' — Character to Glyph Index Mapping Table).
"""

from __future__ import annotations

import struct

_SFNT_VERSIONS = (b"\x00\x01\x00\x00", b"true", b"OTTO", b"ttcf")


def _u16(b: bytes, off: int) -> int:
    return struct.unpack_from(">H", b, off)[0]


def _u32(b: bytes, off: int) -> int:
    return struct.unpack_from(">I", b, off)[0]


def read_table_directory(data: bytes) -> dict[bytes, tuple[int, int]]:
    """sfnt offset table + table directory → {tag: (offset, length)}.
    For a TTC (font collection) reads the FIRST font, matching the
    reference's fontNumber=-1 default behavior of taking what TTFont
    resolves."""
    if len(data) < 12:
        raise ValueError("not an sfnt: file shorter than offset table")
    base = 0
    if data[:4] == b"ttcf":
        if len(data) < 16:
            raise ValueError("truncated TTC header")
        base = _u32(data, 12)  # offset of first font's offset table
        if base + 12 > len(data):
            raise ValueError("TTC first-font offset out of bounds")
    if data[base:base + 4] not in _SFNT_VERSIONS[:3]:
        raise ValueError(
            f"not a TTF/OTF: sfnt version {data[base:base + 4]!r}")
    num_tables = _u16(data, base + 4)
    dir_off = base + 12
    if dir_off + 16 * num_tables > len(data):
        raise ValueError("truncated table directory")
    tables: dict[bytes, tuple[int, int]] = {}
    for i in range(num_tables):
        rec = dir_off + 16 * i
        tag = data[rec:rec + 4]
        off, length = _u32(data, rec + 8), _u32(data, rec + 12)
        if off + length > len(data):
            raise ValueError(f"table {tag!r} extends past end of file")
        tables[tag] = (off, length)
    return tables


def _parse_format0(sub: bytes) -> dict[int, int]:
    if len(sub) < 262:
        raise ValueError("truncated cmap format 0 subtable")
    return {c: sub[6 + c] for c in range(256) if sub[6 + c] != 0}


def _parse_format4(sub: bytes) -> dict[int, int]:
    if len(sub) < 16:
        raise ValueError("truncated cmap format 4 header")
    seg_x2 = _u16(sub, 6)
    seg = seg_x2 // 2
    need = 16 + seg_x2 * 4  # end/start/delta/rangeOffset arrays + pad
    if len(sub) < need:
        raise ValueError("truncated cmap format 4 arrays")
    end_off = 14
    start_off = end_off + seg_x2 + 2  # +2 reservedPad
    delta_off = start_off + seg_x2
    range_off = delta_off + seg_x2
    out: dict[int, int] = {}
    for i in range(seg):
        end = _u16(sub, end_off + 2 * i)
        start = _u16(sub, start_off + 2 * i)
        delta = _u16(sub, delta_off + 2 * i)
        ro = _u16(sub, range_off + 2 * i)
        if start > end:
            raise ValueError(f"format 4 segment {i}: start > end")
        if start == 0xFFFF:  # the mandatory terminator segment
            continue
        for c in range(start, min(end, 0xFFFE) + 1):
            if ro == 0:
                gid = (c + delta) & 0xFFFF
            else:
                # glyphIdArray addressing: the offset is relative to
                # the idRangeOffset WORD itself (the spec's famous
                # *(idRangeOffset[i]/2 + (c-startCode) + &idRangeOffset[i])
                addr = range_off + 2 * i + ro + 2 * (c - start)
                if addr + 2 > len(sub):
                    raise ValueError(
                        f"format 4 segment {i}: glyphIdArray out of bounds")
                gid = _u16(sub, addr)
                if gid != 0:
                    gid = (gid + delta) & 0xFFFF
            if gid != 0:
                out[c] = gid
    return out


# group-format subtables (12/13) materialize every codepoint in each
# range; a corrupt u32 group end (the length check bounds n_groups, not
# range WIDTHS) would otherwise loop for billions of iterations inside
# an executor UDF. Legit fonts never exceed the Unicode ceiling, and
# total expansion is capped at one full Unicode space.
_MAX_CODEPOINT = 0x10FFFF
_MAX_EXPANDED = 0x110000


def _check_group(fmt: int, g: int, start: int, end: int,
                 total: int) -> int:
    """→ new cumulative total; raises on structural corruption."""
    if start > end:
        raise ValueError(f"format {fmt} group {g}: start > end")
    if end > _MAX_CODEPOINT:
        raise ValueError(
            f"format {fmt} group {g}: end U+{end:X} beyond the "
            f"Unicode ceiling (corrupt group table)")
    total += end - start + 1
    if total > _MAX_EXPANDED:
        raise ValueError(
            f"format {fmt}: groups expand to >{_MAX_EXPANDED} "
            f"codepoints (corrupt group table)")
    return total


def _parse_format12(sub: bytes) -> dict[int, int]:
    if len(sub) < 16:
        raise ValueError("truncated cmap format 12 header")
    n_groups = _u32(sub, 12)
    if 16 + 12 * n_groups > len(sub):
        raise ValueError("truncated cmap format 12 groups")
    out: dict[int, int] = {}
    total = 0
    for g in range(n_groups):
        off = 16 + 12 * g
        start, end, start_gid = struct.unpack_from(">III", sub, off)
        total = _check_group(12, g, start, end, total)
        for c in range(start, end + 1):
            out[c] = start_gid + (c - start)
    return out


def _parse_format6(sub: bytes) -> dict[int, int]:
    if len(sub) < 10:
        raise ValueError("truncated cmap format 6 header")
    first, count = _u16(sub, 6), _u16(sub, 8)
    if 10 + 2 * count > len(sub):
        raise ValueError("truncated cmap format 6 glyph array")
    out = {}
    for i in range(count):
        gid = _u16(sub, 10 + 2 * i)
        if gid:
            out[first + i] = gid
    return out


def _parse_format13(sub: bytes) -> dict[int, int]:
    """Many-to-one range mappings ('last resort' fonts): same group
    layout as format 12, but every char in a group maps to the SAME
    glyph id."""
    if len(sub) < 16:
        raise ValueError("truncated cmap format 13 header")
    n_groups = _u32(sub, 12)
    if 16 + 12 * n_groups > len(sub):
        raise ValueError("truncated cmap format 13 groups")
    out: dict[int, int] = {}
    total = 0
    for g in range(n_groups):
        off = 16 + 12 * g
        start, end, gid = struct.unpack_from(">III", sub, off)
        total = _check_group(13, g, start, end, total)
        for c in range(start, end + 1):
            out[c] = gid
    return out


_PARSERS = {0: _parse_format0, 4: _parse_format4, 6: _parse_format6,
            12: _parse_format12, 13: _parse_format13}


def parse_cmap(data: bytes) -> dict[int, int]:
    """Full font bytes → {codepoint: glyph id}, unioned over every
    readable cmap subtable (the reference's chain.from_iterable over
    ttf['cmap'].tables). Later tables win ties, matching dict-update
    semantics of iterating tables in record order."""
    tables = read_table_directory(data)
    if b"cmap" not in tables:
        raise ValueError("font has no cmap table")
    cmap_off, cmap_len = tables[b"cmap"]
    cmap = data[cmap_off:cmap_off + cmap_len]
    if len(cmap) < 4:
        raise ValueError("truncated cmap header")
    n_records = _u16(cmap, 2)
    if 4 + 8 * n_records > len(cmap):
        raise ValueError("truncated cmap encoding records")
    mapping: dict[int, int] = {}
    seen_offsets: set[int] = set()
    for r in range(n_records):
        rec = 4 + 8 * r
        sub_off = _u32(cmap, rec + 4)
        if sub_off in seen_offsets:  # shared subtable (common in real fonts)
            continue
        seen_offsets.add(sub_off)
        if sub_off + 2 > len(cmap):
            raise ValueError(f"cmap record {r}: subtable offset out of bounds")
        fmt = _u16(cmap, sub_off)
        parser = _PARSERS.get(fmt)
        if parser is None:
            continue  # unsupported format: skip, like ignoreDecompileErrors
        mapping.update(parser(cmap[sub_off:]))
    return mapping


def get_unicode_coverage_from_ttf(ttf_path: str) -> tuple[list[int], list[str]]:
    """Reference-signature coverage enumeration
    (format_effocr_recognizer_dataset.py:188-192): → (codepoints,
    chars), sorted. Codepoints above the unicode ceiling (bogus format
    12 groups) are dropped rather than crashing chr()."""
    with open(ttf_path, "rb") as f:
        data = f.read()
    cps = sorted(c for c in parse_cmap(data) if c <= 0x10FFFF)
    return cps, [chr(c) for c in cps]


def font_covered_charset(charset, ttf_path: str) -> list[str]:
    """Restrict a charset to characters the font's cmap actually maps —
    the decision the reference makes before rendering training glyphs
    (coverage feeds create_inputs, format_effocr_recognizer_dataset.py
    :208-239). Order-preserving."""
    cps, _ = get_unicode_coverage_from_ttf(ttf_path)
    cov = set(cps)
    return [c for c in charset if ord(c) in cov]
