"""Similarity kernels: Levenshtein percent and Jaro-Winkler (both JVM).

Levenshtein parity trap (reference src/matching/mod.rs:47-52): the
DISTANCE counts Unicode chars (strsim), but the percent DENOMINATOR is
the Rust byte length (`str::len`). Spark's built-in ``F.levenshtein``
is char-based and ``F.octet_length`` gives UTF-8 bytes, so the whole
percent stays JVM-side in whole-stage codegen — no Python.

Jaro-Winkler parity (strsim 0.11.1, the reference's dependency):
standard Jaro on chars, then ``jw = jaro + prefix * 0.1 * (1 - jaro)``
with common prefix capped at 4 and NO 0.7 boost threshold (strsim
applies the boost unconditionally, unlike Winkler's original / rapidfuzz).
The pipeline scores it with the Java kernel (``jw_pct_expr``), tested
against the scalar mirror ``jaro_winkler``. ``jaro_winkler_pct_udf``
maps that mirror over an Arrow batch; the benchmark scripts run it
once to start the Python worker pool before timing.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType


def lev_pct_col(a: Column, b: Column) -> Column:
    """(1 - char_lev(a,b) / max(byte_len)) * 100; both-empty -> 100.0."""
    max_bytes = F.greatest(F.octet_length(a), F.octet_length(b))
    return F.when(max_bytes == 0, F.lit(100.0)).otherwise(
        (F.lit(1.0) - F.levenshtein(a, b) / max_bytes) * 100.0
    )


def levenshtein_py(a: str, b: str) -> int:
    """Char-based Levenshtein distance (test mirror of the JVM built-in)."""
    if a == b:
        return 0
    if not a:
        return len(b)
    if not b:
        return len(a)
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def jaro(a: str, b: str) -> float:
    """Standard Jaro similarity on chars (strsim semantics)."""
    if a == b:
        return 1.0
    la, lb = len(a), len(b)
    if la == 0 or lb == 0:
        return 0.0
    window = max(la, lb) // 2 - 1
    if window < 0:
        window = 0
    b_matched = [False] * lb
    a_matches: list[str] = []
    for i, ca in enumerate(a):
        lo = max(0, i - window)
        hi = min(lb, i + window + 1)
        for j in range(lo, hi):
            if not b_matched[j] and b[j] == ca:
                b_matched[j] = True
                a_matches.append(ca)
                break
    m = len(a_matches)
    if m == 0:
        return 0.0
    b_matches = [b[j] for j in range(lb) if b_matched[j]]
    transpositions = sum(1 for x, y in zip(a_matches, b_matches) if x != y) // 2
    return (m / la + m / lb + (m - transpositions) / m) / 3.0


def jaro_winkler(a: str, b: str) -> float:
    """strsim 0.11 jaro_winkler: unconditional prefix boost, cap 1.0."""
    sj = jaro(a, b)
    prefix = 0
    for ca, cb in zip(a, b):
        if ca == cb:
            prefix += 1
            if prefix == 4:
                break
        else:
            break
    return min(sj + prefix * 0.1 * (1.0 - sj), 1.0)


@pandas_udf(DoubleType())
def jaro_winkler_pct_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    """``jaro_winkler * 100`` per row of an Arrow batch; NULL scores as
    the empty string."""
    return pd.Series(
        [jaro_winkler(x, y) * 100.0 for x, y in zip(a.fillna(""), b.fillna(""))],
        index=a.index,
        dtype="float64",
    )


def jw_pct_expr(a: Column, b: Column) -> Column:
    """Jaro-Winkler percent as the compiled Java kernel
    (javaudf/NmsJaroWinkler.java, strsim parity): the scoring path
    stays entirely JVM-side."""
    return F.call_udf("nms_jw_pct", a, b)
