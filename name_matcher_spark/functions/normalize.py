"""Normalization functions with reference parity.

Three normalizations exist in the reference and are reproduced exactly:

1. ``normalize_text`` — Unicode NFD, drop combining marks, lowercase,
   trim (reference: src/normalize.rs:3-17). Runs as the compiled Java
   kernel ``NmsNormalizeText``, whose tables reproduce Python's
   ``unicodedata``; ``strip_diacritics_lower_trim`` is the scalar
   mirror.
2. ``normalize_simple`` — trim, drop ``.``, map ``-`` to space,
   lowercase; NO diacritic stripping, NO inner-space collapsing
   (reference: src/matching/mod.rs:32-45). Pure Spark built-ins.
3. ``normalize_for_phonetic`` — NFD, keep ASCII letters and single
   spaces, fold ss/ae/o/d specials, lowercase, trim-end (reference:
   src/matching/mod.rs:54-81). The Double Metaphone Java kernel applies
   it in-kernel; ``normalize_for_phonetic_py`` is the scalar mirror.

The reference normalizes with (1) before matching on the in-memory
path but not on the blocked-CPU path (src/matching/mod.rs:1099); its
own parity suite treats the in-memory semantics as ground truth
(tests/new_engine_parity.rs:23-27), so this engine applies (1)
consistently everywhere.
"""

from __future__ import annotations

import unicodedata

from pyspark.sql import Column
from pyspark.sql import functions as F


def strip_diacritics_lower_trim(s: str | None) -> str | None:
    """Python scalar mirror of reference normalize_text (normalize.rs:3-17)."""
    if s is None:
        return None
    decomposed = unicodedata.normalize("NFD", s)
    no_marks = "".join(c for c in decomposed if not unicodedata.combining(c))
    return no_marks.lower().strip()


def normalize_text_col(col: Column) -> Column:
    """normalize_text as a column expression: the compiled Java kernel
    ``NmsNormalizeText``, which keeps the per-record prepare chain
    fully JVM-side (no Arrow channel). Differential-tested against
    the scalar Python mirror ``strip_diacritics_lower_trim``."""
    return F.call_udf("nms_normalize_text", col)


def normalize_simple_py(s: str | None) -> str:
    """Python scalar mirror of reference normalize_simple (mod.rs:32-45).

    Trim FIRST, then per-char: drop '.', '-'->' ', lowercase. Trailing
    spaces introduced by a trailing '-' are kept, matching the
    reference's order of operations.
    """
    if s is None:
        s = ""
    out = []
    for ch in s.strip():
        if ch == ".":
            continue
        if ch == "-":
            out.append(" ")
        else:
            out.append(ch.lower())
    return "".join(out)


def normalize_simple_col(col: Column) -> Column:
    """normalize_simple as pure JVM built-ins (whole-stage codegen).

    translate deletes '.' (no replacement char) and maps '-'->' ';
    trim runs first to mirror mod.rs:33.
    """
    return F.lower(F.translate(F.trim(col), "-.", " "))


_PHONETIC_FOLD = {"ß": "ss", "æ": "ae", "ǽ": "ae", "ø": "o", "đ": "d"}


def normalize_for_phonetic_py(s: str | None) -> str:
    """Python scalar mirror of reference normalize_for_phonetic (mod.rs:54-81).

    NFD-decompose, lowercase each codepoint, keep ASCII letters; ASCII
    whitespace collapses to single spaces; ss/ae/o/d folds; everything
    else (including combining marks) dropped; trailing space trimmed.
    """
    if s is None:
        return ""
    out: list[str] = []
    for ch in unicodedata.normalize("NFD", s.strip()):
        for lc in ch.lower():
            if lc.isascii() and lc.isalpha():
                out.append(lc)
            elif lc.isascii() and lc.isspace():
                if out and out[-1] != " ":
                    out.append(" ")
            else:
                fold = _PHONETIC_FOLD.get(lc)
                if fold:
                    out.append(fold)
    return "".join(out).rstrip()


def simple_full_col(*name_cols: Column) -> Column:
    """Reference full-name build: ``format!("{f} {m} {l}")`` with None
    rendered as '' (mod.rs:104-105) — a missing middle name yields a
    DOUBLE space which normalize_simple does NOT collapse. concat_ws
    skips nulls (would collapse), so coalesce to '' first.
    """
    parts = [F.coalesce(c, F.lit("")) for c in name_cols]
    return normalize_simple_col(F.concat_ws(" ", *parts))
