"""Golden normalization values from the reference's own tests
(src/normalize.rs:36-49) and FIXTURES.md §5."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from name_matcher_spark.functions.normalize import (
    normalize_for_phonetic_py,
    normalize_simple_col,
    normalize_simple_py,
    normalize_text_col,
    simple_full_col,
    strip_diacritics_lower_trim,
)


@pytest.mark.parametrize(
    ("raw", "expected"),
    [
        ("Álvaro", "alvaro"),
        ("  José  ", "jose"),
        ("ÉÉ", "ee"),
        ("Łukasz", "łukasz"),  # Ł has no combining-mark decomposition
        ("O'Brien", "o'brien"),
        ("", ""),
        ("Ó Súilleabháin", "o suilleabhain"),
    ],
)
def test_strip_diacritics(raw, expected):
    assert strip_diacritics_lower_trim(raw) == expected


@pytest.mark.parametrize(
    ("raw", "expected"),
    [
        ("p.", "p"),
        ("Mc-Donald", "mc donald"),
        ("  John  ", "john"),
        ("J.R.", "jr"),
        ("Smith-", "smith "),  # trim happens BEFORE '-' -> ' '
        ("", ""),
    ],
)
def test_normalize_simple_py(raw, expected):
    assert normalize_simple_py(raw) == expected


def test_normalize_simple_col_matches_py(spark):
    values = ["p.", "Mc-Donald", "  John  ", "J.R.", "Smith-", "", "Ann-Marie X."]
    df = spark.createDataFrame([(v,) for v in values], ["s"])
    got = [r[0] for r in df.select(normalize_simple_col(F.col("s"))).collect()]
    assert got == [normalize_simple_py(v) for v in values]


def test_normalize_text_col(spark):
    df = spark.createDataFrame([("Álvaro",), ("  José  ",), (None,)], ["s"])
    got = [r[0] for r in df.select(normalize_text_col(F.col("s"))).collect()]
    assert got == ["alvaro", "jose", None]


@pytest.mark.parametrize(
    ("raw", "expected"),
    [
        ("José García", "jose garcia"),
        ("Björn", "bjorn"),
        ("Weiß", "weiss"),
        ("Søren", "soren"),
        ("O'Brien  Jr", "obrien jr"),
        ("", ""),
    ],
)
def test_normalize_for_phonetic(raw, expected):
    assert normalize_for_phonetic_py(raw) == expected


def test_simple_full_double_space(spark):
    """A missing middle name yields the reference's double space
    (format! with unwrap_or("") then normalize_simple, mod.rs:104)."""
    df = spark.createDataFrame(
        [("John", None, "Smith"), ("John", "Q", "Smith")],
        ["f", "m", "l"],
    )
    got = [
        r[0]
        for r in df.select(
            simple_full_col(F.col("f"), F.col("m"), F.col("l"))
        ).collect()
    ]
    assert got == ["john  smith", "john q smith"]


def test_jvm_normalize_kernel_matches_python(spark):
    """The compiled NmsNormalizeText kernel must agree byte-for-byte
    with the Python scalar mirror on adversarial Unicode, and on the
    full dirty-fixture name distribution."""
    cases = [
        None, "", "   ", "abc", "  AbC  ",
        "  padded ", " ogham ", "\ttab\nnl\r",
        "Ó Súilleabháin", "Nguyễn Thị Ánh", "Dvořák", "Brandão",
        "ß", "ẞ STRASSE", "İstanbul", "IJssel", "ΣΊΣΥΦΟΣ", "ΑΣ Σ",
        "ñÑ çÇ øØ æÆ đĐ", "áé", "́leading-mark",
        "ﬁligature", "ﬂood", "한국어 이름", "北京 人", "Ёлкин", "Їжак",
        "è́̂stacked", "🎉 emoji 🎉", "ARABIC عَرَبِيّ",
    ]
    df = spark.createDataFrame([(c,) for c in cases], "s string").coalesce(1)
    got = [
        r.j for r in df.select(F.call_udf("nms_normalize_text", "s").alias("j")).collect()
    ]
    for c, j in zip(cases, got):
        assert j == strip_diacritics_lower_trim(c), repr(c)

    # Bulk: every name in the dirty fixture, JVM vs the scalar mirror.
    from name_matcher_spark.fixtures.persons import make_dirty

    a_pd, b_pd, _ = make_dirty(2000, seed=31)
    names = pd.concat([
        a_pd["first_name"], a_pd["middle_name"], a_pd["last_name"],
        b_pd["first_name"], b_pd["middle_name"], b_pd["last_name"],
    ]).dropna().unique()
    ndf = spark.createDataFrame([(str(n),) for n in names], "s string")
    rows = ndf.select(
        "s", F.call_udf("nms_normalize_text", "s").alias("j")
    ).collect()
    assert len(rows) == len(names)
    bad = [(r.s, r.j) for r in rows if r.j != strip_diacritics_lower_trim(r.s)]
    assert not bad, bad[:10]


def test_apply_column_mapping(spark):
    """ColumnMapping parity (models.rs:103-126 / schema.rs:26-31,
    80-101): renames resolve, optional columns null-backfill, bad
    identifiers and missing required columns raise."""
    import datetime as dt

    import pytest as _pytest

    from name_matcher_spark.operators.extract import apply_column_mapping
    from name_matcher_spark.operators.prepare import prepare_persons

    src = spark.createDataFrame(
        [(1, "Ann", "Lee", dt.date(1990, 1, 1))],
        "person_pk long, given string, family string, dob date",
    )
    mapped = apply_column_mapping(
        src,
        {"id": "person_pk", "first_name": "given",
         "last_name": "family", "birthdate": "dob"},
    )
    row = mapped.collect()[0]
    assert row.id == 1 and row.first_name == "Ann" and row.uuid is None
    # mapped output feeds the engine directly
    assert prepare_persons(mapped, include_middle=False).count() == 1

    with _pytest.raises(ValueError, match="invalid physical"):
        apply_column_mapping(src, {"id": "person_pk; DROP"})
    with _pytest.raises(ValueError, match="required column"):
        apply_column_mapping(src, {"id": "nope"})
