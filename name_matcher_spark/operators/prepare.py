"""Per-record derived columns — the reference's FuzzyCache + blocking keys
(src/matching/mod.rs:1583-1602, 1045-1071) as a single projection.

Computed ONCE per record before any join (the reference precomputes the
same values per record to avoid per-pair recomputation). normalize_text,
soundex4 and Double Metaphone run as the compiled Java kernels
registered by ``session.get_spark``, so the prepare chain contains no
Python and never crosses the Arrow channel.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.normalize import (
    normalize_simple_col,
    normalize_text_col,
    simple_full_col,
)


def soundex4_col(col: Column) -> Column:
    """soundex4 (``functions.phonetic.soundex4``) as the compiled Java
    kernel. Null input codes to '0000' (the kernel is invoked on
    nulls)."""
    return F.call_udf("nms_soundex4", col)


def dmeta_col(col: Column) -> Column:
    """double_metaphone(normalize_for_phonetic(full)) — mod.rs:83-99 —
    as the compiled Java kernel. Null input codes to ''."""
    return F.call_udf("nms_dmeta", col)


def first_alpha_initial(col: Column) -> Column:
    """First ASCII-alphabetic char, uppercased; '?' when none
    (mod.rs:1055-1056)."""
    extracted = F.upper(F.regexp_extract(F.coalesce(col, F.lit("")), "[a-zA-Z]", 0))
    return F.when(extracted == "", F.lit("?")).otherwise(extracted)


def prepare_persons(df: DataFrame, include_middle: bool = True) -> DataFrame:
    """Project a person table (id, uuid?, first_name, middle_name,
    last_name, birthdate, hh_id?) to its matching-ready form.

    Adds:
      norm_first/norm_middle/norm_last — normalize_text (diacritic strip)
      simple_first/simple_middle/simple_last — normalize_simple of the above
      full — normalize_simple'd full name ("f m l" 3-field or "f l" 2-field;
             missing middle yields the reference's double space)
      dmeta — Double Metaphone primary code of `full`
      birth_year, first_initial, last_initial, sx_last, block_key

    One shuffle-free projection with zero Python: the compiled kernels
    (NmsNormalizeText / NmsSoundex4 / NmsDoubleMetaphone) run JVM-side.
    """
    out = (
        df.withColumn("norm_first", normalize_text_col(F.col("first_name")))
        .withColumn("norm_middle", normalize_text_col(F.col("middle_name")))
        .withColumn("norm_last", normalize_text_col(F.col("last_name")))
    )
    out = (
        out.withColumn("simple_first", normalize_simple_col(F.coalesce("norm_first", F.lit(""))))
        .withColumn("simple_middle", normalize_simple_col(F.coalesce("norm_middle", F.lit(""))))
        .withColumn("simple_last", normalize_simple_col(F.coalesce("norm_last", F.lit(""))))
    )
    if include_middle:
        full = simple_full_col(
            F.col("norm_first"), F.col("norm_middle"), F.col("norm_last")
        )
    else:
        full = simple_full_col(F.col("norm_first"), F.col("norm_last"))
    out = out.withColumn("full", full).withColumn("dmeta", dmeta_col(F.col("full")))

    out = (
        out.withColumn("birth_year", F.year("birthdate"))
        .withColumn("first_initial", first_alpha_initial(F.col("norm_first")))
        .withColumn("last_initial", first_alpha_initial(F.col("norm_last")))
        .withColumn("sx_last", soundex4_col(F.col("norm_last")))
    )
    # Composite key of the reference BKey (year, first init, last init,
    # soundex4(last)) — mod.rs:1045. F.concat, NOT concat_ws: concat_ws
    # silently SKIPS a NULL birth_year, giving every dateless record a
    # 3-part key and block-matching all of them against each other — a
    # quadratic pileup the birthdate gate only discards AFTER the
    # payload join. concat null-propagates, so a dateless row's key is
    # NULL and drops out of the join (initials fall back to '?' and
    # sx_last to '0000', so birth_year is the only nullable part —
    # the documented "key is null -> dropped" invariant actually holds;
    # blocking_eval.py pins the same hazard for its own keys).
    out = out.withColumn(
        "block_key",
        F.concat(
            F.col("birth_year").cast("string"),
            F.lit("|"),
            F.col("first_initial"),
            F.lit("|"),
            F.col("last_initial"),
            F.lit("|"),
            F.col("sx_last"),
        ),
    )
    return out
