"""Dedup operator semantics on hand-built documents."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from name_matcher_spark.operators.dedup import (
    exact_duplicates,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    shingles,
    simhash64,
    simhash_near_dupes,
)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "The  quick brown fox jumps over the lazy dog"),  # ws/case variant
    (3, "the quick brown fox jumps over the lazy cat"),   # near-dup
    (4, "completely different text about spark engines"),
    (5, "zzz"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_duplicates(docs):
    got = {(r.doc_id, r.canonical_id, r.group_size) for r in exact_duplicates(docs).collect()}
    # 1 and 2 normalize identically; nothing else groups.
    assert got == {(1, 1, 2), (2, 1, 2)}


def test_shingles_distinct(spark):
    d = spark.createDataFrame([(1, "aaaa")], "doc_id long, text string")
    got = [r.gram for r in shingles(d, k=3).collect()]
    assert got == ["aaa"]  # distinct


def test_minhash_identical_docs_always_candidates(docs):
    cands = {(r.id_a, r.id_b) for r in minhash_lsh_candidates(docs, k=5).collect()}
    assert (1, 2) in cands
    # the unrelated doc never pairs with the fox docs
    assert not any({a, b} & {4} and {a, b} & {1, 2, 3} for a, b in cands)


def test_minhash_hash_modes_agree_by_construction(spark):
    """Production (xxhash64) and oracle (md5) MinHash must produce the
    same candidate-pair SEMANTICS on a fixture where the answer is
    hash-independent by construction: docs with identical normalized
    text have identical shingle sets, hence identical signatures and a
    shared bucket under ANY min-wise hash; docs sharing zero shingles
    can never share a min (both modes hash the same gram strings, so a
    bucket collision would require the min over disjoint gram sets to
    coincide — asserted not to happen for either mode here)."""
    rows = [
        (1, "identical text body alpha alpha alpha"),
        (2, "identical  TEXT body alpha alpha alpha"),  # ws/case twin of 1
        (3, "qqqqqqqqqqqqqqqqqqqq"),                    # disjoint shingles
        (4, "zzzzzzzzzzzzzzzzzzzz"),                    # disjoint shingles
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = {}
    for mode in ("xxhash64", "md5"):
        got[mode] = {
            (r.id_a, r.id_b)
            for r in minhash_lsh_candidates(d, k=5, hash_fn=mode).collect()
        }
    assert got["xxhash64"] == got["md5"] == {(1, 2)}
    with pytest.raises(ValueError):
        minhash_lsh_candidates(d, k=5, hash_fn="sha9000").collect()


def test_ngram_jaccard_exact_value(spark):
    d = spark.createDataFrame(
        [(1, "abcd"), (2, "abcde")], "doc_id long, text string"
    )
    rows = ngram_jaccard_pairs(d, k=3, threshold=0.0).collect()
    # grams(1) = {abc, bcd}; grams(2) = {abc, bcd, cde}; J = 2/3
    assert len(rows) == 1
    assert rows[0].jaccard == pytest.approx(2 / 3)


def test_ngram_jaccard_doc_freq_cap(spark):
    # 'the ' grams shared by everything get cut at max_doc_freq=1 ->
    # no intersection survives between 1 and 3 except rare grams.
    d = spark.createDataFrame(DOCS[:3], "doc_id long, text string")
    uncapped = {(r.id_a, r.id_b) for r in ngram_jaccard_pairs(d, k=3, threshold=0.5).collect()}
    assert (1, 2) in uncapped and (1, 3) in uncapped


def test_simhash_identical_and_near(docs):
    fps = {r.doc_id: r.simhash for r in simhash64(docs).collect()}
    assert fps[1] == fps[2]
    # max_hamming capped at 3: the 4-chunk pigeonhole guarantees recall
    # only through 3 (larger radii now raise instead of silently missing)
    near = {(r.id_a, r.id_b): r.hamming for r in simhash_near_dupes(docs, max_hamming=3).collect()}
    assert near[(1, 2)] == 0
    if (1, 3) in near:
        assert near[(1, 3)] > 0


def test_simhash_plan_is_jvm_only(docs):
    plan = simhash64(docs)._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_dedup_clusters_transitive_and_canonical(spark):
    from name_matcher_spark.operators.dedup import dedup_clusters

    d = spark.createDataFrame(
        [
            (1, "alpha beta gamma"),
            (2, "alpha beta gamma delta"),  # longest -> canonical
            (3, "alpha beta"),
            (4, "unrelated text entirely"),
            (5, "other island"),
            (6, "other island"),
        ],
        "doc_id long, text string",
    )
    # A~B and B~C but never A~C: transitivity must merge all three.
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "id_a long, id_b long"
    )
    for method in ("propagate", "bigstar"):
        rows = {r.doc_id: r for r in dedup_clusters(d, pairs, method=method).collect()}
        assert set(rows) == {1, 2, 3, 5, 6}  # doc 4 untouched
        assert rows[1].cluster_id == rows[2].cluster_id == rows[3].cluster_id
        assert rows[1].cluster_size == 3
        assert [i for i in (1, 2, 3) if rows[i].is_canonical] == [2]
        # equal-length tie in the 5~6 cluster -> min id wins
        assert rows[5].is_canonical and not rows[6].is_canonical


def test_embedding_neardup_finds_planted_twins(spark):
    """Planted near-identical vectors must surface through the LSH
    bucket path with their cosine; unrelated random vectors must not."""
    import random

    from name_matcher_spark.operators.dedup import embedding_neardup_pairs

    rng = random.Random(5)
    rows = []
    for vid in range(40):
        v = [rng.uniform(-1, 1) for _ in range(16)]
        rows.append((vid, v))
        if vid % 8 == 0:  # plant a twin with a tiny wobble
            rows.append((vid + 1000, [x + 0.001 * ((i % 3) - 1) for i, x in enumerate(v)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = embedding_neardup_pairs(df, dim=16, threshold=0.98, tables=8)
    got = {(r.id_a, r.id_b) for r in out.collect()}
    expected = {(vid, vid + 1000) for vid in range(0, 40, 8)}
    assert got == expected
    for r in out.collect():
        assert r.cosine >= 0.98


def test_dedup_pipeline_dispositions(spark):
    """Tiered pipeline semantics on a handcrafted corpus: exact dups
    leave at tier 1, verified near-dups cluster at tier 4, and an exact
    dup of an absorbed near-dup resolves THROUGH to the kept canonical."""
    from name_matcher_spark.operators.dedup import dedup_pipeline

    base = "the quick brown fox jumps over the lazy dog " * 8
    near = base.replace("lazy", "idle", 1)     # one edit -> high jaccard
    rows = [
        (1, base + "tail"),                        # canonical (longest)
        (2, base + "tail"),                        # exact dup of 1
        (3, near),                                 # near dup of 1
        (5, near),                                 # exact dup of 3
        (7, "completely unrelated content about spark physical plans"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in dedup_pipeline(df).collect()}
    assert len(out) == 5
    assert out[1].status == "kept" and out[1].canonical_id == 1
    assert out[2].status == "exact_dup" and out[2].canonical_id == 1
    assert out[3].status == "near_dup" and out[3].canonical_id == 1
    # 5 is byte-identical to 3; 3 was absorbed as near-dup of 1, so 5's
    # canonical must resolve through to the KEPT doc, never to 3
    assert out[5].status == "exact_dup" and out[5].canonical_id == 1
    assert out[7].status == "kept" and out[7].canonical_id == 7


def test_dedup_pipeline_pins_drain_cache(spark):
    """Every table dedup_pipeline pins (exact-tier assignment,
    survivors, LSH candidates, the verify tier's gram tables) belongs
    to the caller's cache_scope(): once the scope exits, in either
    verify mode, no cache entry is left."""
    from name_matcher_spark.cache import cache_scope
    from name_matcher_spark.operators.dedup import dedup_pipeline

    rows = [(i, f"document number {i} with some shared words") for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cache_manager = spark._jsparkSession.sharedState().cacheManager()

    spark.catalog.clearCache()
    for mode in ("join", "sets"):
        with cache_scope():
            assert dedup_pipeline(df, verify_mode=mode).count() == 20
            assert not cache_manager.isEmpty(), "dedup tiers should pin"
        assert cache_manager.isEmpty()


def test_verify_modes_identical(spark):
    """mode='sets' (array_intersect over gram arrays, no exploded
    pair-gram shuffle) must produce bit-identical (id_a, id_b, jaccard)
    to the exploded-join formulation the DuckDB oracles replay."""
    rows = [
        (i, f"shared prefix text number {i % 5} plus unique tail {i}")
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cands = minhash_lsh_candidates(df, k=5, hash_fn="md5")
    j = ngram_jaccard_pairs(df, candidates=cands, k=3, threshold=0.3)
    s = ngram_jaccard_pairs(df, candidates=cands, k=3, threshold=0.3, mode="sets")
    assert sorted(map(tuple, j.collect())) == sorted(map(tuple, s.collect()))
    assert j.count() > 0  # the comparison is not vacuous

    with pytest.raises(ValueError):
        ngram_jaccard_pairs(df, candidates=None, mode="sets").count()


def test_minhash_bucket_cap_drops_degenerate_buckets(spark):
    """max_bucket_size: a boilerplate-collapsed bucket (here: byte-
    identical texts, which share every band) must be dropped before
    the self-join, while pairs in small buckets survive untouched."""
    boiler = [(i, "cookie banner accept all cookies to continue") for i in range(30)]
    pair = [
        (100, "completely distinctive article about alpine marmots"),
        (101, "completely distinctive article about alpine marmoty"),
    ]
    df = spark.createDataFrame(boiler + pair, "doc_id long, text string")

    uncapped = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_candidates(df, k=5).collect()
    }
    capped = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_candidates(df, k=5, max_bucket_size=10).collect()
    }
    assert (100, 101) in uncapped and (100, 101) in capped
    # the 30-doc degenerate bucket contributes 435 pairs uncapped, 0 capped
    assert sum(1 for a, b in uncapped if b < 100) == 30 * 29 // 2
    assert not any(b < 100 for a, b in capped)
    # bounded: every surviving pair comes from a bucket <= cap
    assert capped == {(100, 101)}


def test_dedup_pipeline_bucket_cap_passthrough(spark):
    """dedup_pipeline(max_bucket_size=...) reaches tier 2: with the
    exact tier removing byte-identical docs first, NEAR-identical
    boilerplate (one char varies) forms the degenerate bucket."""
    from name_matcher_spark.operators.dedup import dedup_pipeline

    rows = [(i, f"cookie banner accept all cookies variant {i}") for i in range(25)]
    rows += [(200, "unique survivor document about glaciers")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    capped = dedup_pipeline(
        df, shingle_k=5, verify_threshold=0.5, max_doc_freq=None,
        max_bucket_size=5,
    ).collect()
    # every boilerplate doc still gets a row; with their bucket dropped
    # they are all kept (no candidates -> no near-dup edges)
    assert len(capped) == 26
    assert all(r.status == "kept" for r in capped)


def test_simhash_and_embedding_bucket_caps(spark):
    """The same degenerate-bucket guard on the simhash chunk join and
    the hyperplane-LSH embedding join: capped runs return a subset of
    the uncapped pair set, and a genuinely-near pair in small buckets
    survives."""
    import math

    from name_matcher_spark.operators.dedup import (
        embedding_neardup_pairs,
        simhash_near_dupes,
    )

    rows = [(i, "breaking news boilerplate footer text here") for i in range(20)]
    rows += [
        (100, "unique glacier survey with detailed measurements alpha"),
        (101, "unique glacier survey with detailed measurements alphb"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    full = {(r.id_a, r.id_b) for r in simhash_near_dupes(df).collect()}
    capped = {
        (r.id_a, r.id_b)
        for r in simhash_near_dupes(df, max_bucket_size=5).collect()
    }
    assert capped <= full
    assert (100, 101) in capped
    assert not any(b < 100 for _, b in capped)

    # embeddings: 20 vectors in one tight cone + a near-identical pair
    # pointing elsewhere
    def vec(theta, jitter=0.0):
        return [math.cos(theta) + jitter, math.sin(theta)] + [0.0] * 6

    vrows = [(i, vec(0.001 * i)) for i in range(20)]
    vrows += [(100, vec(1.5)), (101, vec(1.5, 0.0005))]
    vdf = spark.createDataFrame(vrows, "vec_id long, embedding array<double>")
    vfull = {
        (r.id_a, r.id_b)
        for r in embedding_neardup_pairs(vdf, dim=8, threshold=0.99).collect()
    }
    vcapped = {
        (r.id_a, r.id_b)
        for r in embedding_neardup_pairs(
            vdf, dim=8, threshold=0.99, max_bucket_size=10
        ).collect()
    }
    assert vcapped <= vfull
    assert (100, 101) in vcapped
    assert not any(b < 100 for _, b in vcapped)


def test_line_dedup_semantics(spark):
    from name_matcher_spark.operators.dedup import line_dedup

    docs = spark.createDataFrame(
        [
            (1, "unique alpha\nShared Footer\nmore alpha"),
            (2, "unique beta\nShared Footer"),
            (3, "Shared Footer"),                 # all boilerplate
            (4, "SHARED   footer\ngamma line"),   # case/space variant drops too
            (5, "solo\n\n   \nsecond solo"),      # blanks never counted
            (6, None),                            # NULL text -> empty row
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in line_dedup(docs, min_docs=2).collect()}
    assert rows[1].clean_text == "unique alpha\nmore alpha"
    assert rows[1].n_lines_kept == 2 and rows[1].n_lines_dropped == 1
    assert rows[2].clean_text == "unique beta"
    # every line boilerplate -> empty text, still present in output
    assert rows[3].clean_text == "" and rows[3].n_lines_dropped == 1
    # normalization matched the variant; surviving line keeps its case
    assert rows[4].clean_text == "gamma line"
    # blank lines are excluded from both counts
    assert rows[5].n_lines_kept == 2 and rows[5].n_lines_dropped == 0
    assert rows[6].clean_text == "" and rows[6].n_lines_kept == 0

    # hash mode is an equality-key implementation detail: identical output
    md5_rows = sorted(tuple(r) for r in line_dedup(docs, min_docs=2, hash_fn="md5").collect())
    xx_rows = sorted(tuple(r) for r in line_dedup(docs, min_docs=2).collect())
    assert md5_rows == xx_rows

    # min_docs=3: the footer (3 distinct docs... actually 4) survives nothing;
    # raise to 5 and nothing is boilerplate anymore
    keep_all = {r.doc_id: r for r in line_dedup(docs, min_docs=5).collect()}
    assert keep_all[3].clean_text == "Shared Footer"
    assert keep_all[1].n_lines_dropped == 0


def test_corpus_pipeline_ordering(spark):
    """The corpus composition's load-bearing property: docs that
    differ raw but are identical after boilerplate removal collapse in
    the exact-dup stage (dedup AFTER clean), and the filter judges
    CLEANED text (a doc whose junk is all boilerplate gets kept)."""
    from name_matcher_spark.operators.dedup import exact_duplicates, line_dedup
    from name_matcher_spark.operators.text import text_filter_pipeline

    payload = (
        "the payload of the record stays exactly the same in both pages\n"
        "and the second line of the payload is also identical here"
    )
    docs = spark.createDataFrame(
        [
            (1, payload + "\nFooter One"),
            (2, payload + "\nFooter Two"),
            (3, "Footer One\nthe first carrier doc with the plain english "
                "words that the gates accept easily and the length fits"),
            (4, "Footer Two\nthe second carrier doc where the text keeps the "
                "same friendly english tone that the filters will accept"),
            (5, "Footer One"),  # all boilerplate -> empty -> filtered
            (6, "Footer Two\nclick here click here click here click here "
                "click here click here click here click here click here"),
        ],
        "doc_id long, text string",
    )
    # min_docs=3: each footer is in three docs (boilerplate), the
    # payload pair is only in two (content) — at min_docs=2 the
    # duplicated payload would itself be classed boilerplate and line
    # dedup would subsume the exact-dup stage entirely
    cleaned = line_dedup(docs, min_docs=3)
    cdocs = cleaned.selectExpr("doc_id", "clean_text as text")
    verd = {r.doc_id: r for r in text_filter_pipeline(cdocs).collect()}
    # raw texts 1 and 2 differ; cleaned they are identical and keep-worthy
    assert verd[1].keep and verd[2].keep
    assert not verd[5].keep          # nothing left after clean
    assert not verd[6].keep          # repetition survives the clean, fails
    kept = cdocs.join(
        spark.createDataFrame(
            [(i,) for i, v in verd.items() if v.keep], "doc_id long"
        ),
        "doc_id",
        "leftsemi",
    )
    ex = {r.doc_id: r for r in exact_duplicates(kept).collect()}
    assert ex[1].canonical_id == 1 and ex[2].canonical_id == 1
    assert 3 not in ex and 4 not in ex


def test_dedup_pipeline_null_text_kept_not_dropped(spark):
    """NULL-text docs (routine in real crawls) must come back as
    'kept' singleton rows — the NULL md5 key must not silently drop
    them from the one-row-per-input-doc contract."""
    from name_matcher_spark.operators.dedup import dedup_pipeline

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, None),
         (3, "the quick brown fox jumps"), (4, None)],
        "doc_id long, text string",
    )
    out = dedup_pipeline(docs, minhash_hash_fn="md5").collect()
    assert len(out) == 4
    by_id = {r.doc_id: r for r in out}
    assert by_id[2].status == "kept" and by_id[2].canonical_id == 2
    assert by_id[4].status == "kept" and by_id[4].canonical_id == 4
    assert by_id[3].status == "exact_dup" and by_id[3].canonical_id == 1


def test_dedup_clusters_rejects_string_ids(spark):
    from name_matcher_spark.operators.dedup import dedup_clusters

    docs = spark.createDataFrame(
        [("d1", "aaa"), ("d2", "aab")], "doc_id string, text string"
    )
    pairs = spark.createDataFrame([("d1", "d2")], "id_a string, id_b string")
    with pytest.raises(TypeError, match="integral"):
        dedup_clusters(docs, pairs)


def test_lsh_parameter_validation(spark):
    from name_matcher_spark.operators.dedup import (
        band_buckets,
        simhash_near_dupes,
    )

    docs = spark.createDataFrame([(1, "abcdefgh")], "doc_id long, text string")
    with pytest.raises(ValueError, match="divisible"):
        band_buckets(docs, num_hashes=8, bands=3).collect()
    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_near_dupes(docs, max_hamming=4).collect()
