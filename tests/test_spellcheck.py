"""Visual spell checker goldens
(reference: /root/reference/utils/spell_check_utils.py:98-245)."""

import os

from effocr_spark.functions.spellcheck import (
    create_common_abbrev,
    create_homoglyph_dict,
    create_worddict,
    depunctuate,
    is_initial,
    is_number,
    majority_normalize,
    visual_spell_checker,
)

DATA = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                    "data")
WD = create_worddict()
SD = create_homoglyph_dict()
AB = create_common_abbrev()


def check(s):
    return visual_spell_checker(s, WD, SD, AB)


def test_homoglyph_correction():
    # 'f'→'t' homoglyph turns 'fhe' into dictionary word 'the'
    assert check("fhe") == "the"


def test_word_left_alone():
    assert check("the cat and the dog") == "the cat and the dog"


def test_number_left_alone():
    assert check("1874") == "1874"


def test_all_caps_left_alone():
    assert check("NASA") == "NASA"


def test_majority_normalize_digit_in_word():
    # mostly-alpha token: interior digit homoglyph-normalized to a letter
    assert majority_normalize("w0rd", SD) == "wOrd"


def test_majority_normalize_alpha_in_number():
    assert majority_normalize("1O0", SD) == "100"


def test_depunctuate_and_predicates():
    assert depunctuate("a,b.c-") == "abc"
    assert is_number("1,000.")
    assert is_initial("J.")
    assert not is_initial("Jo")


def test_splitters_preserved():
    out = check('fhe/fhe "fhe"')
    assert out == 'the/the "the"'


def test_frequency_dictionary_file_ingestion(spark, tmp_path):
    """S5 ingestion path: symspellpy-format file → dict, via Spark read
    and the plain-Python fallback; the committed data/ file reproduces
    the embedded table exactly."""
    from effocr_spark.functions.spellcheck import (
        _EMBEDDED_FREQS, create_worddict, load_frequency_dictionary)

    path = os.path.join(DATA, "frequency_dict_en.txt")
    via_spark = load_frequency_dictionary(path, spark=spark)
    via_python = load_frequency_dictionary(path)
    assert via_spark == _EMBEDDED_FREQS
    assert via_python == _EMBEDDED_FREQS
    assert create_worddict(freq_path=path, spark=spark) == create_worddict()

    # a bigger dictionary drops in: same interface, new words usable
    big = tmp_path / "big_dict.txt"
    big.write_text("hello 500\tignored\nworld 400\nbadline\n", encoding="utf-8")
    d = load_frequency_dictionary(str(big))
    assert d == {"hello": 500, "world": 400}


def test_full_scale_frequency_dictionary(spark):
    """The committed full-scale dictionary (tools/make_frequency_dict.py)
    loads through the same S5 path at realistic symspell size (10k+
    entries, Zipf-shaped counts) and the checker corrects words ONLY
    that dictionary knows — proving the file, not the embedded table,
    drives the beam."""
    from effocr_spark.functions.spellcheck import (
        create_common_abbrev, create_homoglyph_dict, create_worddict,
        visual_spell_checker)

    path = os.path.join(DATA, "frequency_dict_en_full.txt")
    wd = create_worddict(freq_path=path, spark=spark)
    assert len(wd) > 10_000
    # Zipf shape: strictly non-increasing counts down the file
    counts = list(wd.values())
    assert counts[0] > 1_000_000 > counts[-1]

    sd, ab = create_homoglyph_dict(), create_common_abbrev()
    # "value"/"table" exist only in the full dictionary, not the
    # embedded 238-word table → the small dict leaves "va1ue" broken
    small = create_worddict()
    assert "value" in wd and "value" not in small
    assert visual_spell_checker("va1ue tab1e", wd, sd, ab) == "value table"
    # letter-only corruption (i→l homoglyph) needs a dict hit to fix:
    # the full dictionary restores it, the 238-word table cannot
    assert visual_spell_checker("vaiue tabie", wd, sd, ab) == "value table"
    assert visual_spell_checker("vaiue tabie", small, sd, ab) == "vaiue tabie"


def test_pipeline_spellcheck_with_file_dict(spark):
    """extract_pages(spell_check=True, freq_dict=...) runs the checker
    against the full-scale file dictionary inside the OCR UDF (per-
    worker cached load — the reference's 82k-file load at pipeline
    start). The file dict knows words the embedded table doesn't, so
    the spell pass must NOT mangle them."""
    from effocr_spark.pipeline import broadcast_prototypes, extract_pages
    from effocr_spark.synth.font import render_line
    from effocr_spark.synth.imgcodec import encode_png

    text = "the market price fell"  # market/price/fell: file dict only
    img, _, _ = render_line(text)
    df = spark.createDataFrame(
        [("u://0", None, bytearray(encode_png(img)), None, "en")],
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string")
    protos = broadcast_prototypes(spark)
    out = extract_pages(
        df, protos, spell_check=True,
        freq_dict=os.path.join(DATA, "frequency_dict_en_full.txt"),
    ).collect()[0]
    assert out["ok"] and out["extracted_text"] == text
