"""S6 font source: the stdlib TTF cmap reader
(effocr_spark/functions/ttf.py) against the committed fixture font
(data/tiny_font.ttf, written by tools/make_tiny_font.py) — coverage
enumeration parity with the reference's fontTools flow
(format_effocr_recognizer_dataset.py:188-192) plus structural
validation and the ETL coverage gate."""

import os
import struct

import pytest

from effocr_spark.functions.ttf import (
    font_covered_charset, get_unicode_coverage_from_ttf, parse_cmap,
    read_table_directory)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FONT = os.path.join(ROOT, "data", "tiny_font.ttf")


def _font_bytes() -> bytes:
    with open(FONT, "rb") as f:
        return f.read()


def test_coverage_matches_writer_contract():
    """Every codepoint the writer mapped — and nothing else — comes
    back, as (codepoints, chars) in the reference's return shape."""
    import sys
    sys.path.insert(0, ROOT)
    from tools.make_tiny_font import CODEPOINTS

    cps, chars = get_unicode_coverage_from_ttf(FONT)
    assert cps == CODEPOINTS
    assert chars == [chr(c) for c in CODEPOINTS]
    # multiple segments: digits, upper, lower, accents, CJK all present
    assert {ord("0"), ord("Z"), ord("z"), 0xE9, ord("日")} <= set(cps)
    assert ord(" ") not in set(cps)  # gaps really are gaps


def test_glyph_id_array_segment_decodes():
    """The punctuation segment is stored via idRangeOffset/glyphIdArray
    (non-contiguous gids); idDelta segments surround it. Both paths
    must agree with the writer's assignment."""
    import sys
    sys.path.insert(0, ROOT)
    from tools.make_tiny_font import CODEPOINTS, PUNCT, build_font

    mapping = parse_cmap(build_font())
    expect = {c: i + 1 for i, c in enumerate(CODEPOINTS)}
    gids = [expect[c] for c in PUNCT]
    for c, g in zip(PUNCT, gids[::-1]):
        expect[c] = g
    assert mapping == expect
    # distinct gids, none zero
    assert len(set(mapping.values())) == len(mapping)
    assert 0 not in mapping.values()


def test_sfnt_structure_and_checksums():
    """The fixture is a structurally honest sfnt: required tables
    present and the whole-file checksum honors head.checkSumAdjustment
    (sum over the adjusted file == 0xB1B0AFBA)."""
    data = _font_bytes()
    tables = read_table_directory(data)
    assert {b"cmap", b"head", b"maxp", b"glyf", b"loca", b"hmtx",
            b"hhea"} <= set(tables)
    padded = data + b"\x00" * (-len(data) % 4)
    total = sum(struct.unpack(f">{len(padded) // 4}I", padded)) & 0xFFFFFFFF
    assert total == 0xB1B0AFBA


def test_shared_subtable_offsets_parsed_once():
    """(0,3) and (3,1) records point at the SAME format-4 subtable —
    the parser must handle offset sharing (real fonts do this) without
    double-counting or crashing."""
    data = _font_bytes()
    off, _ = read_table_directory(data)[b"cmap"]
    n_rec = struct.unpack_from(">H", data, off + 2)[0]
    offs = [struct.unpack_from(">I", data, off + 4 + 8 * r + 4)[0]
            for r in range(n_rec)]
    assert len(offs) != len(set(offs))  # sharing actually present
    assert parse_cmap(data)  # and it parses fine


def test_malformed_fonts_raise_cleanly():
    data = _font_bytes()
    with pytest.raises(ValueError, match="sfnt"):
        parse_cmap(b"NOPE" + data[4:])
    with pytest.raises(ValueError):
        parse_cmap(data[:40])  # truncated table directory
    # a font with no cmap table
    with pytest.raises(ValueError, match="cmap"):
        parse_cmap(data.replace(b"cmap", b"cmxp", 1))


def test_unsupported_subtable_format_skipped():
    """A cmap whose only extra record is an unsupported format must
    still yield the supported tables' union (ignoreDecompileErrors
    parity)."""
    data = bytearray(_font_bytes())
    off, _ = read_table_directory(bytes(data))[b"cmap"]
    # rewrite record 1 (the format-0 Mac table) to claim format 8
    # (mixed 16/32-bit — genuinely unsupported)
    sub_off = struct.unpack_from(">I", data, off + 4 + 8 + 4)[0]
    struct.pack_into(">H", data, off + sub_off, 8)
    full = parse_cmap(_font_bytes())
    skipped = parse_cmap(bytes(data))
    assert skipped == full  # format-4 table already covered everything


def test_etl_coverage_gate(spark):
    """rendered_glyphs(ttf_path=...) renders only font-covered chars:
    the space and the uncovered kanji drop out of the training table."""
    from effocr_spark.operators.etl_recognizer import rendered_glyphs

    charset = "AB 世?"  # space + 世 uncovered; A, B, ? covered
    covered = font_covered_charset(list(charset), FONT)
    assert covered == ["A", "B", "?"]
    got = {r["codepoint"] for r in
           rendered_glyphs(spark, charset, ttf_path=FONT).collect()}
    assert got <= {ord(c) for c in covered}
    assert ord("世") not in got and ord(" ") not in got


def test_format6_trimmed_table():
    """cmap format 6 (trimmed table mapping) parses: firstCode + dense
    glyph array, zero gids unmapped."""
    import struct

    from effocr_spark.functions.ttf import _parse_format6

    gids = [5, 0, 7, 9]  # codepoints 0x41..0x44; 0x42 unmapped
    sub = struct.pack(">HHHHH", 6, 10 + 2 * len(gids), 0, 0x41, len(gids))
    sub += struct.pack(f">{len(gids)}H", *gids)
    assert _parse_format6(sub) == {0x41: 5, 0x43: 7, 0x44: 9}
    with pytest.raises(ValueError, match="truncated"):
        _parse_format6(sub[:12])


def test_ttc_collection_reads_first_font():
    """A TrueType Collection wrapper (ttcf header + offset table) reads
    the FIRST font, matching the reference's fontNumber=-1 behavior."""
    font = _font_bytes()
    # ttcf header: tag, version 1.0, numFonts=1, offset to first font
    ttc = (b"ttcf" + struct.pack(">I", 0x00010000)
           + struct.pack(">I", 1) + struct.pack(">I", 16) + font)
    # table offsets inside `font` are relative to the FONT start, which
    # is now at +16 — rebuild the directory offsets
    tables = read_table_directory(ttc)  # reads dir at base 16
    assert b"cmap" in tables
    # parse_cmap resolves offsets against the whole buffer; the fixture
    # font's offsets are 0-based, so shift: simplest honest check is
    # that a ttc whose payload offsets ARE buffer-relative parses. Build
    # that: rewrite each table offset +16.
    import struct as _s
    n = _s.unpack_from(">H", ttc, 16 + 4)[0]
    buf = bytearray(ttc)
    for i in range(n):
        rec = 16 + 12 + 16 * i
        off = _s.unpack_from(">I", buf, rec + 8)[0]
        _s.pack_into(">I", buf, rec + 8, off + 16)
    cps, chars = (sorted(parse_cmap(bytes(buf))),
                  None)
    assert cps == sorted(parse_cmap(font))


def test_format13_many_to_one():
    """cmap format 13 ('last resort' fonts): format-12 group layout,
    but every char in a group maps to the SAME glyph id."""
    import struct

    from effocr_spark.functions.ttf import _parse_format13

    groups = [(0x40, 0x42, 7), (0x100, 0x100, 9)]
    sub = struct.pack(">HHIII", 13, 0, 16 + 12 * len(groups), 0,
                      len(groups))
    for s, e, g in groups:
        sub += struct.pack(">III", s, e, g)
    assert _parse_format13(sub) == {0x40: 7, 0x41: 7, 0x42: 7,
                                    0x100: 9}
    with pytest.raises(ValueError, match="truncated"):
        _parse_format13(sub[:14])
    bad = sub[:16] + struct.pack(">III", 5, 2, 1) + sub[28:]
    with pytest.raises(ValueError, match="start > end"):
        _parse_format13(bad)


def test_group_format_corruption_guards():
    """A corrupt u32 group end (e.g. 0xFFFFFFFF) must raise, not loop
    for billions of iterations inside an executor UDF; legit
    whole-Unicode groups still parse."""
    import struct

    import pytest
    from effocr_spark.functions.ttf import (_parse_format12,
                                            _parse_format13)

    def sub(fmt, groups):
        head = struct.pack(">HHIII", fmt, 0, 16 + 12 * len(groups), 0,
                           len(groups))
        return head + b"".join(struct.pack(">III", *g) for g in groups)

    # end beyond the Unicode ceiling → structural corruption
    for parser, fmt in ((_parse_format12, 12), (_parse_format13, 13)):
        with pytest.raises(ValueError, match="Unicode ceiling"):
            parser(sub(fmt, [(0x40, 0xFFFFFFFF, 1)]))
        # cumulative expansion cap: two half-Unicode-sized groups pass,
        # three raise
        half = 0x88000
        ok = [(0, half - 1, 1), (half, 2 * half - 1, 1)]
        assert len(parser(sub(fmt, ok))) == 2 * half
        with pytest.raises(ValueError, match="expand"):
            parser(sub(fmt, ok + [(0, half - 1, 1)]))
    # boundary: a group ending exactly at U+10FFFF is legal
    assert _parse_format13(sub(13, [(0x10FFF0, 0x10FFFF, 9)])) \
        == {c: 9 for c in range(0x10FFF0, 0x110000)}
