"""Soundex4 parity with the reference variant and Double Metaphone
sanity on the fixture name pools."""

from __future__ import annotations

import pytest

from name_matcher_spark.fixtures.persons import FIRST_NAMES, LAST_NAMES
from name_matcher_spark.functions.normalize import normalize_for_phonetic_py
from name_matcher_spark.functions.phonetic import double_metaphone, soundex4


def _soundex4_reference(s: str) -> str:
    """Direct transcription of mod.rs:1227-1238 for differential tests."""
    out = ["0", "0", "0", "0"]
    letters = [c for c in s if c.isascii() and c.isalpha()]
    if not letters:
        return "".join(out)
    out[0] = letters[0].upper()
    last, idx = 0, 1
    table = {"b": 1, "f": 1, "p": 1, "v": 1, "c": 2, "g": 2, "j": 2, "k": 2,
             "q": 2, "s": 2, "x": 2, "z": 2, "d": 3, "t": 3, "l": 4, "m": 5,
             "n": 5, "r": 6}
    for c in letters[1:]:
        if idx >= 4:
            break
        d = table.get(c.lower(), 0)
        if d != 0 and d != last:
            out[idx] = str(d)
            idx += 1
        last = d
    return "".join(out)


@pytest.mark.parametrize(
    ("name", "code"),
    [
        ("smith", "S530"),
        ("johnson", "J525"),
        ("", "0000"),
        ("o'brien", "O165"),
        ("lee", "L000"),
        ("garcia", "G620"),
        # vowel between duplicate-code letters resets `last` in the
        # reference variant, so both code (standard soundex would too
        # for vowels, but this variant also resets on h/w):
        ("ashcraft", "A226"),  # standard soundex gives A261
    ],
)
def test_soundex4_golden(name, code):
    assert soundex4(name) == code


def test_soundex4_differential_on_pools():
    for n in FIRST_NAMES + LAST_NAMES:
        norm = normalize_for_phonetic_py(n)
        assert soundex4(norm) == _soundex4_reference(norm), n


@pytest.mark.parametrize(
    ("word", "code"),
    [
        # Canonical Double Metaphone primary codes (commons-codec).
        ("SMITH", "SM0"),
        ("JOHNSON", "JNSN"),
        ("WILLIAMS", "ALMS"),
        ("JONES", "JNS"),
        ("GARCIA", "KRS"),
        ("THOMPSON", "TMPS"),
        ("KNIGHT", "NT"),
        ("WRIGHT", "RT"),
        ("PHILIPS", "FLPS"),
        ("XAVIER", "SF"),
        ("CZECH", "SK"),
        ("SCHMIDT", "XMT"),
        ("catherine", "K0RN"),
        ("aubrey", "APR"),
        ("ghislane", "JLN"),
        ("jose", "HS"),
        ("michael", "MKL"),
    ],
)
def test_double_metaphone_golden(word, code):
    assert double_metaphone(word) == code


def test_double_metaphone_pools_no_crash():
    for n in FIRST_NAMES + LAST_NAMES:
        c = double_metaphone(normalize_for_phonetic_py(n))
        assert isinstance(c, str) and len(c) <= 4


def test_double_metaphone_empty():
    assert double_metaphone("") == ""
    assert double_metaphone(None) == ""


def test_jvm_soundex4_kernel_matches_python(spark):
    from pyspark.sql import functions as F

    from name_matcher_spark.functions.phonetic import soundex4

    cases = [
        None, "", "   ", "a", "pfister", "robert", "rupert", "ashcraft",
        "o'brien", "müller", "smith-jones", "123", "x9y8z7", "llll",
        "bfpv", "wwww", "honeyman", "Ó súilleabháin", "van der berg",
        "ñoño", "ΑΒΓ", "schwarzenegger",
    ]
    df = spark.createDataFrame([(c,) for c in cases], "s string").coalesce(1)
    got = [r.j for r in df.select(F.call_udf("nms_soundex4", "s").alias("j")).collect()]
    for c, j in zip(cases, got):
        assert j == soundex4(c), repr(c)


def test_jvm_dmeta_kernel_matches_python(spark):
    """NmsDoubleMetaphone (normalize_for_phonetic + DM primary) must
    agree with the Python mirror on a rule-corpus hitting every
    handler, the fixture distribution, and seeded random strings."""
    import random

    from pyspark.sql import functions as F

    from name_matcher_spark.functions.normalize import normalize_for_phonetic_py
    from name_matcher_spark.functions.phonetic import double_metaphone

    rule_corpus = [
        None, "", " ", "a",
        # silent starts, vowels, duplicates
        "gnome", "knight", "pneumonia", "wrack", "psalm", "aeiouy",
        "abba", "buff", "akka", "annčlk",
        # C family
        "chianti", "caesar", "chae", "czerny", "focaccia", "mcclellan",
        "accident", "succeed", "bacci", "nickel", "cagney", "cicero",
        "chemistry", "chorus", "orchestra", "architect", "orchid",
        "michael", "school", "van ness", "von braun", "mchugh",
        # D/G families
        "edge", "edgar", "width", "ghislane", "ghoti", "hugh", "bough",
        "broughton", "laugh", "cough", "gnarl", "signa", "wagner",
        "gymnasium", "danger", "ranger", "manger", "berger", "aggie",
        "oggi", "getty", "biaggi", "tagliaro", "baja",
        # H/J/K/L
        "jose", "san jacinto", "jankelowicz", "bajador", "svaraj",
        "cabrillo", "gallegos", "llama", "villa", "crocodile",
        # M/N/P/Q/R
        "thumb", "dumber", "campbell", "phone", "raspberry", "uomo",
        "hochmeier", "xavier",
        # S family
        "island", "isle", "sugar", "sholz", "shoek", "sheim", "smith",
        "snider", "schenker", "schooner", "schermerhorn", "schmidt",
        "scenic", "sclerosis", "silvio", "pasion", "ois", "lois",
        # T/W/X/Z
        "nation", "thames", "thomas", "vanthan", "witty", "wasserman",
        "wicz", "filipowicz", "breaux", "zhao", "zza", "zanzibar",
        "rogier", "cambrillo", "accede",
        # unicode through normalize_for_phonetic
        "Ó Súilleabháin", "ßtraße", "Ærø", "đorđe", "ǽther",
        "José-María", "  padded  name  ", "北京", "x",
    ]
    rng = random.Random(42)
    alphabet = "abcdefghijklmnopqrstuvwxyz ÁÉÍéçñßæøđ-'. XWKZC"
    randoms = [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 24)))
        for _ in range(400)
    ]
    from name_matcher_spark.fixtures.persons import make_dirty

    a_pd, b_pd, _ = make_dirty(1000, seed=7)
    fixture_fulls = list({
        f"{r.first_name or ''} {r.last_name or ''}"
        for df in (a_pd, b_pd)
        for r in df.itertuples()
    })

    cases = rule_corpus + randoms + fixture_fulls
    df = spark.createDataFrame([(c,) for c in cases], "s string")
    rows = df.select("s", F.call_udf("nms_dmeta", "s").alias("j")).collect()
    assert len(rows) == len(cases)

    def mirror(s):
        # Null input codes to '' in the kernel.
        return "" if s is None else double_metaphone(normalize_for_phonetic_py(s))

    bad = [(r.s, r.j, mirror(r.s)) for r in rows if r.j != mirror(r.s)]
    assert not bad, bad[:10]
