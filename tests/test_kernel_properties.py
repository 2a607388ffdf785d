"""Property-based differential testing of the compiled JVM kernels
against their Python mirrors: hypothesis generates batches of
arbitrary Unicode, each batch checked in ONE Spark pass (per-example
Spark jobs would be prohibitively slow).

Any divergence between java.text/java.lang Unicode handling and
CPython's tables that the curated corpora missed should surface here.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

# Plenty of diacritics, marks, folds, and whitespace in the alphabet —
# plain st.text() rarely hits the interesting codepoints.
INTERESTING = (
    "abcXYZ 0123.-'ßẞæǽøđÇÑ"
    "áÀ̧́İıΣςА中"
    "한 \t\n 　ﬁ"
)
TEXTS = st.lists(
    st.one_of(
        st.text(alphabet=INTERESTING, max_size=24),
        st.text(max_size=24),
        st.none(),
    ),
    min_size=50,
    max_size=50,
)

BATCH_SETTINGS = settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)

PAIRS = st.lists(
    st.tuples(
        st.one_of(st.text(alphabet=INTERESTING, max_size=16), st.text(max_size=16)),
        st.one_of(st.text(alphabet=INTERESTING, max_size=16), st.text(max_size=16)),
    ),
    min_size=40,
    max_size=40,
)


@given(TEXTS)
@BATCH_SETTINGS
def test_kernels_match_python_on_arbitrary_unicode(spark, texts):
    from name_matcher_spark.functions.normalize import (
        normalize_for_phonetic_py,
        strip_diacritics_lower_trim,
    )
    from name_matcher_spark.functions.phonetic import double_metaphone, soundex4

    df = spark.createDataFrame([(t,) for t in texts], "s string").coalesce(1)
    rows = df.select(
        "s",
        F.call_udf("nms_normalize_text", "s").alias("jn"),
        F.call_udf("nms_soundex4", "s").alias("jsx"),
        F.call_udf("nms_dmeta", "s").alias("jdm"),
    ).collect()
    assert len(rows) == len(texts)
    for r in rows:
        s = r.s
        assert r.jn == strip_diacritics_lower_trim(s), repr(s)
        assert r.jsx == soundex4(s), repr(s)
        expected_dm = (
            "" if s is None else double_metaphone(normalize_for_phonetic_py(s))
        )
        assert r.jdm == expected_dm, repr(s)


@given(PAIRS)
@BATCH_SETTINGS
def test_jw_kernel_matches_python_on_arbitrary_unicode(spark, pairs):
    """Differential the compiled NmsJaroWinkler kernel against the
    scalar strsim-parity mirror on arbitrary Unicode pairs (the curated
    corpora in test_similarity.py only cover name-like text). Both sides
    evaluate the same IEEE expression order, so equality is exact."""
    from name_matcher_spark.functions import similarity

    df = spark.createDataFrame(pairs, "a string, b string").coalesce(1)
    rows = df.select(
        "a", "b", F.call_udf("nms_jw_pct", "a", "b").alias("jjw")
    ).collect()
    assert len(rows) == len(pairs)
    for r in rows:
        expected = similarity.jaro_winkler(r.a or "", r.b or "") * 100.0
        assert r.jjw == expected, (repr(r.a), repr(r.b))
