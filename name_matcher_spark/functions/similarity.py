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
The pipeline scores it with the Java kernel (``jw_pct_expr``);
``jaro_winkler_pct_udf`` is an Arrow-batched numpy version of the same
function, kept for the ``bench.py`` warm-up and tested against the
scalar mirror ``jaro_winkler``.
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


_MAX_W = 96  # codepoint cap for the vectorized kernel; longer -> fallback


def _to_codepoint_matrix(values: "np.ndarray") -> tuple["np.ndarray", "np.ndarray"]:
    """(n,) unicode array -> ((n, _MAX_W) uint32 codepoints 0-padded,
    (n,) int32 lengths). numpy's fixed-width UCS4 storage IS the
    codepoint matrix — no per-row Python."""
    import numpy as np

    mat = values.astype(f"U{_MAX_W}").view(np.uint32).reshape(len(values), _MAX_W)
    lengths = (mat != 0).argmin(axis=1).astype(np.int32)
    # rows with no zero padding are exactly _MAX_W long
    full = (mat != 0).all(axis=1)
    lengths[full] = _MAX_W
    return mat, lengths


def jaro_winkler_batch(a_list: "np.ndarray", b_list: "np.ndarray") -> "np.ndarray":
    """Vectorized strsim-parity Jaro-Winkler over two string arrays.

    The greedy match scan runs as a double loop over character
    POSITIONS (bounded by the longest string in the batch), with every
    operation vectorized across the batch rows — no per-row Python.
    This is the Arrow-batch analogue of the reference's fused GPU
    kernel (mod.rs:1304-1359, MAX_STR cap at mod.rs:1258).
    """
    import numpy as np

    n = len(a_list)
    if n == 0:
        return np.empty(0, dtype=np.float64)
    amat, la = _to_codepoint_matrix(a_list)
    bmat, lb = _to_codepoint_matrix(b_list)
    la_max = int(la.max()) if n else 0
    lb_max = int(lb.max()) if n else 0

    out = np.zeros(n, dtype=np.float64)
    equal = (la == lb) & (amat == bmat).all(axis=1)
    out[equal] = 1.0
    nonzero = (la > 0) & (lb > 0) & ~equal
    if nonzero.any():
        window = np.maximum(np.maximum(la, lb) // 2 - 1, 0)
        b_taken = np.zeros_like(bmat, dtype=bool)
        a_seq = np.zeros((n, la_max), dtype=np.uint32)
        cnt_a = np.zeros(n, dtype=np.int32)
        for i in range(la_max):
            found = np.zeros(n, dtype=bool)
            a_i = amat[:, i]
            row_ok = nonzero & (i < la) & (a_i != 0)
            lo = i - window
            hi = np.minimum(lb, i + window + 1)
            for j in range(lb_max):
                elig = (
                    row_ok
                    & ~found
                    & (j >= lo)
                    & (j < hi)
                    & ~b_taken[:, j]
                    & (bmat[:, j] == a_i)
                )
                if elig.any():
                    b_taken[elig, j] = True
                    rows = np.nonzero(elig)[0]
                    a_seq[rows, cnt_a[rows]] = a_i[rows]
                    cnt_a[rows] += 1
                    found |= elig
        m = cnt_a.astype(np.float64)
        # b-side matched chars in j order, then transposition count.
        b_seq = np.zeros_like(a_seq)
        cnt_b = np.zeros(n, dtype=np.int32)
        for j in range(lb_max):
            rows = np.nonzero(b_taken[:, j])[0]
            if len(rows):
                b_seq[rows, cnt_b[rows]] = bmat[rows, j]
                cnt_b[rows] += 1
        k = np.arange(la_max)[None, :]
        diff = (a_seq != b_seq) & (k < cnt_a[:, None])
        trans = diff.sum(axis=1) // 2
        has_m = nonzero & (cnt_a > 0)
        mm = np.where(m > 0, m, 1.0)
        jaro_v = (
            m / np.maximum(la, 1) + m / np.maximum(lb, 1) + (m - trans) / mm
        ) / 3.0
        out[has_m] = jaro_v[has_m]
    # Winkler prefix boost (unconditional, strsim semantics), cap 1.0.
    prefix_eq = (amat[:, :4] == bmat[:, :4]) & (amat[:, :4] != 0)
    prefix = prefix_eq.argmin(axis=1)
    prefix[prefix_eq.all(axis=1)] = 4
    boosted = out + prefix * 0.1 * (1.0 - out)
    result = np.where(equal, 1.0, np.minimum(boosted, 1.0))
    result[(la == 0) | (lb == 0)] = 0.0
    result[equal] = 1.0
    return result


@pandas_udf(DoubleType())
def _jaro_winkler_pct_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    """Batched JW * 100 over Arrow via the numpy kernel; strings longer
    than the kernel's codepoint cap fall back to the scalar mirror."""
    import numpy as np

    af = a.fillna("").to_numpy(dtype=object)
    bf = b.fillna("").to_numpy(dtype=object)
    a_arr = np.asarray(af, dtype="str")
    b_arr = np.asarray(bf, dtype="str")
    # Unique-pair dedup at C speed: name distributions are heavy-tailed,
    # so candidate batches repeat the same pairs many times. The key is
    # LENGTH-PREFIXED ("{len(a)}\x1f{a}{b}"): a bare separator would be
    # ambiguous for names that themselves contain it (normalize_text
    # passes control chars through), collapsing two distinct pairs onto
    # one key and scoring one of them wrong. Equal keys <=> equal
    # (len(a), a+b) <=> equal (a, b).
    keys = np.char.add(
        np.char.add(
            np.char.mod("%d\x1f", np.char.str_len(a_arr))
            if len(a_arr)
            else a_arr,
            a_arr,
        ),
        b_arr,
    )
    _, first_idx, inverse = np.unique(keys, return_index=True, return_inverse=True)
    ua, ub = a_arr[first_idx], b_arr[first_idx]
    lens_a = np.char.str_len(ua) if len(ua) else np.empty(0, dtype=int)
    lens_b = np.char.str_len(ub) if len(ub) else np.empty(0, dtype=int)
    long_mask = (lens_a > _MAX_W) | (lens_b > _MAX_W)
    uscores = jaro_winkler_batch(ua, ub) * 100.0
    if long_mask.any():
        for i in np.nonzero(long_mask)[0]:
            uscores[i] = jaro_winkler(str(ua[i]), str(ub[i])) * 100.0
    return pd.Series(uscores[inverse], index=a.index, dtype="float64")


# Marked non-deterministic ON PURPOSE (it is deterministic): stops the
# optimizer from collapsing projections through it and evaluating the
# expensive kernel twice (once under the match-case filter, again in
# the score projection — observed in .explain as two ArrowEvalPython
# nodes over the same inputs).
jaro_winkler_pct_udf = _jaro_winkler_pct_udf.asNondeterministic()


def jw_pct_expr(a: Column, b: Column) -> Column:
    """Jaro-Winkler percent as the compiled Java kernel
    (javaudf/NmsJaroWinkler.java, strsim parity): the scoring path
    stays entirely JVM-side."""
    return F.call_udf("nms_jw_pct", a, b)
