"""Levenshtein-pct (byte denominator) and Jaro-Winkler (strsim parity)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from name_matcher_spark.functions.similarity import (
    jaro,
    jaro_winkler,
    lev_pct_col,
    levenshtein_py,
)


@pytest.mark.parametrize(
    ("a", "b", "dist"),
    [("kitten", "sitting", 3), ("", "", 0), ("abc", "", 3), ("flaw", "lawn", 2)],
)
def test_levenshtein_py(a, b, dist):
    assert levenshtein_py(a, b) == dist


def test_lev_pct_byte_denominator(spark):
    """'josé' vs 'jose': char distance 1, but max BYTE length is 5
    (é is 2 bytes in UTF-8) -> pct = (1 - 1/5)*100 = 80, not 75."""
    df = spark.createDataFrame([("josé", "jose"), ("", ""), ("ab", "ab")], ["a", "b"])
    got = [r[0] for r in df.select(lev_pct_col(F.col("a"), F.col("b"))).collect()]
    assert got[0] == pytest.approx(80.0)
    assert got[1] == 100.0
    assert got[2] == 100.0


@pytest.mark.parametrize(
    ("a", "b", "expected"),
    [
        # strsim reference values (standard Jaro)
        ("MARTHA", "MARHTA", 17 / 18),
        ("DIXON", "DICKSONX", 0.7666666666666666),
        ("JELLYFISH", "SMELLYFISH", 0.8962962962962964),
        ("", "", 1.0),
        ("a", "", 0.0),
        ("abc", "abc", 1.0),
    ],
)
def test_jaro(a, b, expected):
    assert math.isclose(jaro(a, b), expected, rel_tol=1e-12)


def test_jaro_winkler_unconditional_boost():
    """strsim 0.11 applies the prefix boost even when jaro <= 0.7
    (unlike Winkler's original)."""
    a, b = "DIXON", "DICKSONX"
    j = jaro(a, b)
    expected = j + 2 * 0.1 * (1 - j)
    assert math.isclose(jaro_winkler(a, b), expected, rel_tol=1e-12)


def test_jaro_winkler_known():
    assert math.isclose(
        jaro_winkler("MARTHA", "MARHTA"), 17 / 18 + 3 * 0.1 * (1 - 17 / 18),
        rel_tol=1e-12,
    )
    assert jaro_winkler("x", "x") == 1.0


def test_jw_pct_udf_matches_scalar_mirror(spark):
    """The pandas UDF is the scalar mirror times 100, row for row: NULL
    scores as the empty string, non-ASCII compares by code point, and a
    string longer than 96 code points is scored whole."""
    from name_matcher_spark.functions.similarity import jaro_winkler_pct_udf

    long_a = "ab" * 60 + "Ó"
    long_b = "ab" * 59 + "xyzÓ"
    rows = [
        (None, None),
        ("martha", None),
        (None, "marhta"),
        ("Ó Súilleabháin", "O Suilleabhain"),
        ("straße", "strasse"),
        ("名前", "名"),
        ("x\x1f", "y"),
        ("x", "\x1fy"),
        (long_a, long_b),
        ("MARTHA", "MARHTA"),
    ]
    df = spark.createDataFrame(rows, "a string, b string")
    got = df.select("a", "b", jaro_winkler_pct_udf("a", "b").alias("s")).collect()
    assert len(got) == len(rows)
    for r in got:
        assert r.s == jaro_winkler(r.a or "", r.b or "") * 100.0, (r.a, r.b)
    assert len(long_a) > 96 and 0.0 < jaro_winkler(long_a, long_b) < 1.0
