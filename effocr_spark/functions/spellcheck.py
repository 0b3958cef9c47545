"""Visual (homoglyph) spell checker — opt-in postprocess branch.

Faithful reimplementation of utils/spell_check_utils.py:
homoglyph dict (:26-57), candidate beam substitution + max-frequency pick
(:155-245), majority digit/alpha normalization (:98-119), interior
lowercase (:122-132). The reference loads its word-frequency dictionary
from symspellpy's bundled 82k-word list (:14-23); that package is not
available here, so a small embedded deterministic frequency table stands
in behind the same `worddict` interface. Disabled by default, matching
the reference CPU path (infer_effocr_onnx_multi.py:122-123 comments the
call out; the GPU path gates it behind --spell_check, infer_effocr.py:401).
"""

from __future__ import annotations

import re
import string

_SPLITTER_PATTERN = r"( |/|-|\"|')"


def create_common_abbrev() -> set[str]:
    return set(
        ["dr.", "est.", "i.e.", "jr.", "inc.", "ltd.",
         "mr.", "mrs.", "ms.", "oz.", "sr.", "vs.", "e.g."]
    )


def create_homoglyph_dict() -> dict[str, list[str]]:
    # spell_check_utils.py:26-57, verbatim mapping
    return {
        "0": list("O"), "O": list("0C"), "o": list("0c"),
        "1": list("li"), "l": list("i1"), "i": list("lj1"),
        "j": list("i"), "I": list("l1"), "|": list("li1"),
        "v": list("y"), "V": list("Y"), "y": list("v"),
        "q": list("d"), "d": list("q"), "p": list("b"), "b": list("p"),
        "h": list("n"), "n": list("h"), "c": list("o"), "C": list("O"),
        "f": list("t"), "t": list("f"), "2": list("a"), "@": list("a"),
        ",": list("."), "-": list("."), "z": list("s"), "9": list("g"),
        "H": ["ll"],
    }


# embedded stand-in for symspellpy's frequency dictionary: word → count.
# Ranks mirror common English usage; any dictionary with the same
# interface (dict[str, int]) drops in.
_EMBEDDED_FREQS = {
    w: (200_000 - i * 100)
    for i, w in enumerate(
        "the of and to in a is that for it as was with be by on not he i "
        "this are or his from at which but have an had they you were their "
        "one all we can her has there been if more when will would who so "
        "no said what up its about into them than only other new some could "
        "time these two may then do first any my now such like our over man "
        "me even most made after also did many before must through years "
        "where much your way well down should because each just those people "
        "how too little state good very make world still own see men work "
        "long get here between both life being under never day same another "
        "know while last might us great old year off come since against go "
        "came right used take three himself few house use during without "
        "again place american around however home small found mrs thought "
        "went say part once general high upon school every don does got "
        "united left number course war until always away something fact "
        "though water less public put think almost hand enough far took "
        "head yet government system better set told nothing night end why "
        "called didn eyes find going look asked later knew point next city "
        "business case give group toward young let days true face door cut "
        "finally third hope example hundred five four word whole".split()
    )
}


def load_frequency_dictionary(path: str, spark=None) -> dict[str, int]:
    """symspellpy-format frequency dictionary: one `word count` per line,
    space- or tab-separated (the reference loads the bundled 82k-word
    frequency_dictionary_en_82_765.txt this way,
    utils/spell_check_utils.py:14-23).

    With a SparkSession this is the S5 ingestion path (SURVEY §2.1):
    spark.read.csv → collect → dict, ready for sc.broadcast at cluster
    scale (the dict is a few MB — a broadcast variable, never a join
    side). Plain-Python fallback without a session."""
    if spark is not None:
        from pyspark.sql import functions as F
        rows = (
            spark.read.text(path)
            .select(F.split(F.trim("value"), r"\s+").alias("p"))
            .filter(F.size("p") >= 2)
            .select(F.col("p")[0].alias("w"),
                    F.col("p")[1].cast("long").alias("n"))
            .collect()
        )
        return {r["w"]: int(r["n"]) for r in rows if r["n"] is not None}
    out: dict[str, int] = {}
    with open(path, encoding="utf-8") as f:
        for line in f:
            parts = line.split()
            if len(parts) >= 2 and parts[1].lstrip("-").isdigit():
                out[parts[0]] = int(parts[1])
    return out


_WORDDICT_CACHE: dict[str, dict[str, int]] = {}


def create_worddict(freq_path: str | None = None, spark=None) -> dict[str, int]:
    """word → corpus frequency, with abbreviations removed
    (spell_check_utils.py:14-23). `freq_path` loads a full-scale
    dictionary file (see load_frequency_dictionary) with a per-process
    cache — on executors the file deserializes once per Python worker,
    the same singleton discipline as the model artifact
    (synth/model.load_projection); default falls back to the embedded
    table."""
    if freq_path is not None:
        cached = _WORDDICT_CACHE.get(freq_path)
        if cached is not None:
            return dict(cached)
        worddict = load_frequency_dictionary(freq_path, spark=spark)
    else:
        worddict = dict(_EMBEDDED_FREQS)
    for a in create_common_abbrev():
        worddict.pop(depunctuate(a), None)
    if freq_path is not None:
        _WORDDICT_CACHE[freq_path] = dict(worddict)
    return worddict


def depunctuate(s: str) -> str:
    return s.translate(str.maketrans("", "", ',.?!$%&():;-"'))


def is_number(s: str) -> bool:
    return depunctuate(s).isdigit()


def is_word(s: str, wordset) -> bool:
    return depunctuate(s.lower()) in wordset


def is_initial(s: str) -> bool:
    return len(s) == 2 and s[0].isupper() and s[0].isalpha() and s[1] == "."


def is_abbrev(s: str, abbrevset) -> bool:
    return s.lower() in abbrevset


def all_caps(s: str) -> bool:
    return all(c.isupper() for c in s)


def isnt_cap(s: str) -> bool:
    return s.islower() or s in string.punctuation


def _safe_index_is_alpha(s: str, i: int) -> bool:
    return True if (i < 0 or i >= len(s)) else s[i].isalpha()


def _safe_index_is_digit(s: str, i: int) -> bool:
    return True if (i < 0 or i >= len(s)) else s[i].isdigit()


def majority_normalize(s: str, simdict) -> str:
    """Digit↔alpha homoglyph normalization toward the majority class
    (spell_check_utils.py:98-119).

    Documented parity divergence: in the digit-majority branch, when a
    homoglyph entry has no digit alternative the reference crashes with
    IndexError (`[x for x in simdict[s[i]] if x.isdigit()][0]` on an
    empty list, spell_check_utils.py:117); we deliberately keep the
    original char instead (quarantine-not-crash, SURVEY §1.4). Outputs
    only differ on inputs the reference cannot process at all."""
    num_digits = sum(1 for c in s if c.isdigit())
    num_alphas = sum(1 for c in s if c.isalpha())
    outs = ""
    if num_alphas > num_digits:
        for i in range(len(s)):
            if (s[i].isdigit() and _safe_index_is_alpha(s, i - 1)
                    and _safe_index_is_alpha(s, i + 1) and s[i] in simdict):
                outs += simdict[s[i]][0]
            else:
                outs += s[i]
    elif num_digits > num_alphas:
        for i in range(len(s)):
            if (s[i].isalpha() and _safe_index_is_digit(s, i - 1)
                    and _safe_index_is_digit(s, i + 1) and s[i] in simdict):
                digit_alts = [x for x in simdict[s[i]] if x.isdigit()]
                outs += digit_alts[0] if digit_alts else s[i]
            else:
                outs += s[i]
    else:
        outs = s
    return outs


def visual_spell_checker(
    textline: str,
    worddict: dict[str, int],
    vsim_dict: dict[str, list[str]],
    abbrevset: set[str],
    beam: int = 1000,
    majority_norm: bool = True,
) -> str:
    """Homoglyph-substitution beam spell check (spell_check_utils.py:155-245)."""
    splitters = _SPLITTER_PATTERN[1:-1].split("|")
    spell_checked_words: list[str] = []

    for w in re.split(_SPLITTER_PATTERN, textline):
        if len(w) > 0 and w not in splitters:
            if not is_word(w, worddict) and not is_number(w) and not all_caps(w):
                candidate_words = [w]
                words_in_dict: list[str] = []
                numbers: list[str] = []
                initials: list[str] = []
                abbrevs: list[str] = []
                for idx, c in enumerate(w):
                    if c in vsim_dict:
                        for alt in vsim_dict[c]:
                            new_candidates = []
                            for cw in candidate_words:
                                altw = cw[:idx] + alt + cw[idx + 1 :]
                                if is_word(altw, worddict):
                                    words_in_dict.append(altw)
                                elif is_abbrev(altw, abbrevset):
                                    abbrevs.append(altw)
                                elif is_number(altw):
                                    numbers.append(altw)
                                elif is_initial(altw):
                                    initials.append(altw)
                                new_candidates.append(altw)
                            candidate_words += new_candidates
                            candidate_words = candidate_words[-beam:]
                if words_in_dict:
                    freqs = [worddict[depunctuate(rw).lower()] for rw in words_in_dict]
                    spell_checked_words.append(words_in_dict[freqs.index(max(freqs))])
                elif abbrevs:
                    spell_checked_words.append(abbrevs[0])
                elif initials:
                    spell_checked_words.append(initials[0])
                elif numbers:
                    spell_checked_words.append(numbers[0])
                else:
                    spell_checked_words.append(w)
            else:
                spell_checked_words.append(w)
        else:
            spell_checked_words.append(w)

    if majority_norm:
        spell_checked_words = [
            majority_normalize(w, vsim_dict)
            if w not in splitters and not is_number(w) else w
            for w in spell_checked_words
        ]
    return "".join(spell_checked_words)
