"""The fuzzy decision ladder (reference src/matching/mod.rs:101-233).

Rules (identical for the 3-field and 2-field variants):

1. empty full name on either side -> no match (never emitted)
2. ``full1 == full2``           -> score 100, label ``DIRECT MATCH``
3. lev>=85 AND jw>=85 AND mp==100 -> mean(lev,jw,mp), ``CASE 1``
4. >=2 of {lev>=85, jw>=85, mp==100} -> mean, then refine:
   mean>=88 AND per-field Levenshtein <= 2 on first/last (and middle
   for the 3-field variant) -> relabel ``CASE 3``; else ``CASE 2``
5. otherwise no match.

Exported confidence = score / 100 (mod.rs:985, 1003).

Everything below is JVM expressions over precomputed per-record columns
(simple_full, dmeta code, simple fields) except the Jaro-Winkler term,
which is the one Arrow pandas UDF in the pair hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .similarity import jw_pct_expr, lev_pct_col

DIRECT = "DIRECT MATCH"
CASE1 = "CASE 1"
CASE2 = "CASE 2"
CASE3 = "CASE 3"


def metaphone_pct_col(code1: Column, code2: Column) -> Column:
    """100 iff primary metaphone codes are non-empty and equal (mod.rs:96-98).

    Codes are precomputed per record; the pair-level comparison is a
    plain string equality. Null/empty on either side -> 0.
    """
    c1 = F.coalesce(code1, F.lit(""))
    c2 = F.coalesce(code2, F.lit(""))
    return F.when((c1 != "") & (c1 == c2), F.lit(100.0)).otherwise(F.lit(0.0))


def score_candidate_pairs(
    pairs: DataFrame,
    include_middle: bool,
    left_prefix: str = "l_",
    right_prefix: str = "r_",
) -> DataFrame:
    """Append score/match_case/confidence to a candidate-pair DataFrame
    and drop non-matches.

    Expects per-side precomputed columns (from
    ``operators.prepare.prepare_persons``), prefixed:
      {p}full          — normalize_simple'd full name (variant-specific)
      {p}dmeta         — double-metaphone code of the full name
      {p}simple_first / {p}simple_middle / {p}simple_last
    """
    lp, rp = left_prefix, right_prefix
    full1, full2 = F.col(f"{lp}full"), F.col(f"{rp}full")

    lev = lev_pct_col(full1, full2)
    jw = jw_pct_expr(full1, full2)
    mp = metaphone_pct_col(F.col(f"{lp}dmeta"), F.col(f"{rp}dmeta"))

    # The ladder references each kernel value in several predicates, and
    # CollapseProject inlines deterministic expressions into every use
    # site (observed: the JW kernel evaluated 5x and levenshtein 9x per
    # row). Routing the kernels through a one-element explode(array(
    # struct(...))) inserts a Generate node — a collapse barrier — so
    # each kernel is evaluated exactly once per row, with no
    # materialization and no Python.
    kernel = F.explode(
        F.array(
            F.struct(
                lev.alias("lev"),
                jw.alias("jw"),
                mp.alias("mp"),
            )
        )
    )
    scored = (
        pairs.filter((F.trim(full1) != "") & (F.trim(full2) != ""))
        .select("*", kernel.alias("_k"))
        .select(
            "*",
            F.col("_k.lev").alias("_lev"),
            F.col("_k.jw").alias("_jw"),
            F.col("_k.mp").alias("_mp"),
        )
        .drop("_k")
    )

    avg = (F.col("_lev") + F.col("_jw") + F.col("_mp")) / 3.0
    passes = (
        F.when(F.col("_lev") >= 85.0, 1).otherwise(0)
        + F.when(F.col("_jw") >= 85.0, 1).otherwise(0)
        + F.when(F.col("_mp") == 100.0, 1).otherwise(0)
    )

    def fld_ld(name: str) -> Column:
        return F.levenshtein(
            F.coalesce(F.col(f"{lp}{name}"), F.lit("")),
            F.coalesce(F.col(f"{rp}{name}"), F.lit("")),
        )

    case3_fields = (fld_ld("simple_first") <= 2) & (fld_ld("simple_last") <= 2)
    if include_middle:
        case3_fields = case3_fields & (fld_ld("simple_middle") <= 2)

    is_direct = full1 == full2
    is_case1 = (F.col("_lev") >= 85.0) & (F.col("_jw") >= 85.0) & (F.col("_mp") == 100.0)
    is_case2 = passes >= 2
    is_case3 = (avg >= 88.0) & case3_fields

    scored = scored.withColumn(
        "match_case",
        F.when(is_direct, F.lit(DIRECT))
        .when(is_case1, F.lit(CASE1))
        .when(is_case2 & is_case3, F.lit(CASE3))
        .when(is_case2, F.lit(CASE2))
        .otherwise(F.lit(None).cast("string")),
    ).filter(F.col("match_case").isNotNull())

    scored = (
        scored.withColumn(
            "score",
            F.when(F.col("match_case") == DIRECT, F.lit(100.0)).otherwise(avg),
        )
        .withColumn("confidence", F.col("score") / 100.0)
        .drop("_lev", "_jw", "_mp")
    )
    return scored


# ---------------------------------------------------------------------------
# Pure-Python reference oracle (for differential/parity testing only).
# Mirrors fuzzy_compare_names_new / _no_mid (mod.rs:101-141, 207-233)
# byte-for-byte so the Spark plan can be checked against it.
# ---------------------------------------------------------------------------

def fuzzy_compare_py(
    first1: str | None,
    mid1: str | None,
    last1: str | None,
    first2: str | None,
    mid2: str | None,
    last2: str | None,
    include_middle: bool = True,
) -> tuple[float, str] | None:
    """Reference-semantics pair classifier on already normalize_text'd
    names. Returns (score 0-100, label) or None."""
    from .normalize import normalize_for_phonetic_py, normalize_simple_py
    from .phonetic import double_metaphone
    from .similarity import jaro_winkler, levenshtein_py

    if include_middle:
        full1 = normalize_simple_py(
            f"{first1 or ''} {mid1 or ''} {last1 or ''}"
        )
        full2 = normalize_simple_py(
            f"{first2 or ''} {mid2 or ''} {last2 or ''}"
        )
    else:
        full1 = normalize_simple_py(f"{first1 or ''} {last1 or ''}")
        full2 = normalize_simple_py(f"{first2 or ''} {last2 or ''}")
    if not full1.strip() or not full2.strip():
        return None

    max_bytes = max(len(full1.encode()), len(full2.encode()))
    lev = 100.0 if max_bytes == 0 else (
        1.0 - levenshtein_py(full1, full2) / max_bytes
    ) * 100.0
    jw = jaro_winkler(full1, full2) * 100.0
    pa = double_metaphone(normalize_for_phonetic_py(full1))
    pb = double_metaphone(normalize_for_phonetic_py(full2))
    mp = 100.0 if pa and pa == pb else 0.0

    if full1 == full2:
        return 100.0, DIRECT
    if lev >= 85.0 and jw >= 85.0 and mp == 100.0:
        return (lev + jw + mp) / 3.0, CASE1
    passes = (lev >= 85.0) + (jw >= 85.0) + (mp == 100.0)
    if passes >= 2:
        avg = (lev + jw + mp) / 3.0
        if avg >= 88.0:
            lds = [
                levenshtein_py(
                    normalize_simple_py(first1 or ""), normalize_simple_py(first2 or "")
                ),
                levenshtein_py(
                    normalize_simple_py(last1 or ""), normalize_simple_py(last2 or "")
                ),
            ]
            if include_middle:
                lds.append(
                    levenshtein_py(
                        normalize_simple_py(mid1 or ""), normalize_simple_py(mid2 or "")
                    )
                )
            if all(d <= 2 for d in lds):
                return avg, CASE3
        return avg, CASE2
    return None
