"""Document deduplication for training-data pipelines.

Four tiers, cheapest first — at 100 TB you run them in this order and
each tier only sees what the previous one kept:

1. exact        — md5 hash-groupBy (one shuffle on a 16-byte key)
2. minhash_lsh  — shingle -> minhash signature -> banded buckets ->
                  candidate join inside buckets only
3. simhash      — 64-bit fingerprint, hamming-bucket join
4. ngram_jaccard— exact Jaccard verification on candidate pairs

Hash modes (minhash and simhash both follow the same dual-mode
pattern):

* ``xxhash64`` — production default: Spark's ``xxhash64(gram, i)``
  with a LONG min. Per row one compiled JVM call (``nms_minhash_bands``,
  javaudf/NmsMinHashBands.java) walks the document's shingles, hashing
  each gram's bytes once and deriving the ``num_hashes`` family members
  from that hash, and returns the band keys: no shingle rows, no
  aggregate, no shuffle.
* ``md5`` — oracle mode: md5-of-(gram || ':' || i) with the MIN taken
  over the HEX STRING ordering. md5 exists in both Spark and DuckDB
  with identical output, so the whole operator is oracle-checkable,
  and string-min is as valid a min-wise hash as any integer min. The
  same kernel keeps the minimum over the raw digest bytes (the same
  order) and hex-encodes only the minima; one digest per hash per
  shingle still makes it several times slower than xxhash64.
  Registered queries use it so the DuckDB twin replays bit-for-bit.

Measured A/B at sf0.1 (5,000 docs, local[32], min of 3, on the
shingle-aggregate formulation this kernel replaced): candidates
3.27 s (xxhash64) vs 10.54 s (md5) — 3.2× — with an IDENTICAL
high-Jaccard tail (every pair at J>=0.8 found by both modes) and 2.7×
fewer low-J junk candidates under xxhash64 (392k vs 1.26M at
J in [0.1,0.2), where theory predicts ~1-(1-J^2)^4 ≈ 8.7% of pairs —
xxhash64 tracks the ideal rate; md5-string-min over-fires on this
corpus). Fewer junk candidates also shrink every downstream verify
join, so the production win compounds at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cache import pin


def _norm_text(col):
    """lower + collapse whitespace: canonical form for hashing."""
    return F.regexp_replace(F.lower(F.trim(col)), "\\s+", " ")


def exact_duplicates(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Groups of byte-identical (normalized) documents.

    Returns (doc_id, canonical_id, group_size) for every member of a
    group with >= 2 docs; canonical_id = min doc_id of the group.
    """
    hashed = docs.select(
        F.col(id_col), F.md5(F.encode(_norm_text(F.col(text_col)), "UTF-8")).alias("h")
    )
    groups = (
        hashed.groupBy("h")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count("*").alias("group_size"),
        )
        .filter(F.col("group_size") >= 2)
    )
    return (
        hashed.join(groups, "h")
        .select(id_col, "canonical_id", "group_size")
    )


def _gram_base(docs: DataFrame, id_col: str, text_col: str, k: int):
    """(normalized base DataFrame, distinct-gram-array EXPRESSION).
    Deduplication within a document is a per-ROW fact (r06), so it is
    an `array_distinct`, not a cluster-wide `.distinct()`: the old
    formulation shuffled the whole exploded gram table just to dedupe
    rows that never left their document. Returned as an expression so
    each consumer picks its own physical shape — the fused-into-
    Generate explode and the one-Generate barrier are each ~2x faster
    than materializing the array as a plain projected column (measured;
    the attribute-explode shape was 10x WORSE than either)."""
    norm = _norm_text(F.col(text_col))
    base = docs.select(F.col(id_col), norm.alias("t")).filter(
        F.length("t") >= k
    )
    expr = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.length("t") - (k - 1)),
            lambda i: F.substr(F.col("t"), i, F.lit(k)),
        )
    )
    return base, expr


def gram_arrays(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 5
) -> DataFrame:
    """(id, grams: array<string>) — the DISTINCT k-gram shingle set of
    each document as an in-row array, zero shuffle (r06). Docs shorter
    than ``k`` drop out (no grams), matching `shingles`."""
    base, expr = _gram_base(docs, id_col, text_col, k)
    return base.select(id_col, expr.alias("grams"))


def shingles(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 5) -> DataFrame:
    """Distinct k-gram (character) shingles per document, JVM-only and
    shuffle-FREE (r06): explode of the per-row distinct gram array,
    with the array expression fused INTO the Generate (exploding a
    materialized array column instead measured 10x slower). Same row
    set as the old explode + cluster-wide distinct, without shuffling
    the gram table."""
    base, expr = _gram_base(docs, id_col, text_col, k)
    return base.select(id_col, F.explode(expr).alias("gram"))


def band_buckets(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    num_hashes: int = 8,
    bands: int = 4,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(id, band, key) LSH bucket assignments — one row per doc per
    band. The shared building block of the batch candidate join and the
    streaming incremental dedup's bucket store. The bucket key is a
    string in BOTH hash modes (long minima printed as
    ``cast(long as string)``, ``|``-joined within a band), so the
    streaming bucket store's schema is mode-independent.

    One JVM call per document (``nms_minhash_bands``) computes the
    MinHash signature over the k-gram shingles and returns the band
    keys; ``posexplode`` numbers them. Docs shorter than ``k`` (and
    NULL text) have no shingles and no rows, as in ``shingles``."""
    if hash_fn not in ("xxhash64", "md5"):
        raise ValueError(f"unknown hash_fn: {hash_fn}")
    if num_hashes % bands:
        # A remainder would silently compute-and-drop the tail hashes,
        # quietly shifting the LSH operating point the caller asked for.
        raise ValueError(
            f"num_hashes={num_hashes} must be divisible by bands={bands}"
        )
    base, _ = _gram_base(docs, id_col, text_col, k)
    keys = F.call_udf(
        "nms_minhash_bands",
        F.col("t"), F.lit(k), F.lit(num_hashes), F.lit(bands), F.lit(hash_fn),
    )
    return base.select(F.col(id_col), F.posexplode(keys).alias("band", "key"))


def minhash_lsh_candidates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    num_hashes: int = 8,
    bands: int = 4,
    hash_fn: str = "xxhash64",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-duplicate candidate pairs via banded LSH.

    rows-per-band = num_hashes // bands; docs sharing ANY band bucket
    become a candidate pair (id_a < id_b). The join happens inside
    band buckets only — never all-pairs, EXCEPT when a bucket itself
    degenerates: near-identical boilerplate (cookie banners, parked
    domains, SEO template farms) collapses whole signature bands, and
    one bucket with M members emits M²/2 pairs. ``max_bucket_size``
    is the skew guard for that — buckets larger than the cap are
    dropped BEFORE the self-join (the hot-block-cap treatment the
    fuzzy cascade applies, fuzzy_join.py): such buckets carry no
    discriminative signal (their members still pair through any
    non-degenerate band they share), and the candidate count stays
    bounded by cap × |buckets|. Deterministic, documented recall
    trade; None (default) keeps the exact oracle-checked semantics.
    """
    buckets = band_buckets(docs, id_col, text_col, k, num_hashes, bands, hash_fn)
    if max_bucket_size is not None:
        small = (
            buckets.groupBy("band", "key")
            .agg(F.count("*").alias("_n"))
            .filter(F.col("_n") <= max_bucket_size)
            .select("band", "key")
        )
        buckets = buckets.join(small, ["band", "key"], "leftsemi")
    left = buckets.select(F.col(id_col).alias("id_a"), "band", "key")
    right = buckets.select(F.col(id_col).alias("id_b"), "band", "key")
    return (
        left.join(right, ["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    candidates: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.6,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact k-gram Jaccard over candidate pairs (or all pairs when
    candidates is None — test scale only; at production scale ALWAYS
    feed LSH candidates and/or set max_doc_freq).

    With ``candidates`` each candidate pair joins the two docs' gram
    ARRAYS and intersects them JVM-side (array_intersect, whole-stage
    codegen): no exploded pair-gram shuffle at all (crawl entity dedup:
    measured 8.2x on the verify stage at 2.2M candidates x ~60
    grams/doc against the exploded gram join it replaced, identical
    output). ``candidates`` must hold distinct ``(id_a, id_b)`` pairs
    with ``id_a < id_b``, as ``minhash_lsh_candidates`` emits them:
    each row is scored as given, so a duplicate yields a duplicate row,
    a reversed pair comes through reversed, and with ``threshold <= 0``
    pairs sharing no gram come through at Jaccard 0. Without
    ``candidates``, one per-gram aggregate + pair explode forms every
    pair that shares a gram.

    ``max_doc_freq`` drops grams appearing in more than that many
    documents BEFORE the join (the classic stopword-shingle cut): such
    grams carry no discriminative signal but create the quadratic
    blowup. Jaccard is then over the filtered gram universe — a
    deterministic, documented approximation.

    The table this call reuses (the candidate path's gram arrays feed
    both join sides; the all-pairs path's per-gram aggregate feeds the
    sizes and the pair counts) is pinned with ``cache.pin``; a
    caller's ``cache_scope()`` around the materializing action
    releases it.

    Returns (id_a, id_b, jaccard) with jaccard >= threshold;
    union = |A| + |B| - inter.
    """
    sh = shingles(docs, id_col, text_col, k)
    if candidates is not None:
        if max_doc_freq is None:
            # r06: the per-doc gram set IS the in-row array — no
            # explode, no collect_list shuffle. Intersection/size are
            # order-insensitive, so the array orders are
            # interchangeable.
            sets = gram_arrays(docs, id_col, text_col, k).withColumnRenamed(
                "grams", "_g"
            )
        else:
            # With a doc-frequency cut the array must first lose its
            # stop-grams, which needs the cross-document frequency
            # table: count + semi join on the gram rows, then regroup.
            rare = (
                sh.groupBy("gram")
                .count()
                .filter(F.col("count") <= max_doc_freq)
                .select("gram")
            )
            sets = (
                sh.join(rare, "gram", "leftsemi")
                .groupBy(id_col)
                .agg(F.collect_list("gram").alias("_g"))
            )
        # The gram-array table feeds BOTH sides of the candidate join;
        # unpinned, the whole shingle explode + collect_list aggregate
        # runs twice (the two consumers join on different keys, so no
        # ReusedExchange). Pin it (r06, guide §5 "reused AND
        # recomputing is more expensive").
        sets = pin(sets)
        a = sets.select(F.col(id_col).alias("id_a"), F.col("_g").alias("_ga"))
        b = sets.select(F.col(id_col).alias("id_b"), F.col("_g").alias("_gb"))
        paired = candidates.join(a, "id_a").join(b, "id_b")
        inter = F.size(F.array_intersect("_ga", "_gb"))
        union = F.size("_ga") + F.size("_gb") - inter
        return (
            paired.select(
                "id_a", "id_b", (inter / union).alias("jaccard")
            )
            .filter(F.col("jaccard") >= threshold)
        )
    # All pairs as ONE per-gram aggregate + pair explode (r06, guide
    # §2.3 "aggregate before you shuffle" / §2.4): the old a JOIN b ON
    # gram shuffled the exploded gram table TWICE more (once per join
    # side, after the doc-frequency semi join's own shuffle) and then
    # re-aggregated the pair stream. Grouping doc ids per gram needs a
    # single shuffle, the doc-frequency cut becomes a free size(ds)
    # filter on the aggregate (size(ds) IS the doc frequency: sh is
    # distinct per doc), and sorted-list combinations emit exactly the
    # id_a < id_b pair stream the join produced — identical pairs,
    # identical counts, identical Jaccard. 3 shuffles total vs 5 + join
    # machinery.
    by_gram = sh.groupBy("gram").agg(
        F.sort_array(F.collect_list(F.col(id_col))).alias("ds")
    )
    if max_doc_freq is not None:
        by_gram = by_gram.filter(F.size("ds") <= max_doc_freq)
    # by_gram feeds both the per-doc sizes and the pair counts.
    by_gram = pin(by_gram)
    sizes = (
        by_gram.select(F.explode("ds").alias(id_col))
        .groupBy(id_col)
        .agg(F.count("*").alias("n"))
    )
    ds = F.col("ds")
    combos = F.flatten(
        F.transform(
            ds,
            lambda x, i: F.transform(
                F.slice(ds, i + F.lit(2), F.size(ds)),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    inter = (
        by_gram.select(F.explode(combos).alias("p"))
        .select("p.id_a", "p.id_b")
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    na = sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("nb"))
    return (
        inter.join(na, "id_a")
        .join(nb, "id_b")
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def dedup_pipeline(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 5,
    num_hashes: int = 8,
    bands: int = 4,
    verify_k: int = 3,
    verify_threshold: float = 0.62,
    max_doc_freq: int | None = 100,
    method: str = "propagate",
    minhash_hash_fn: str = "xxhash64",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """The tiered dedup pipeline as ONE lazy plan — the module
    docstring's cheapest-first architecture actually chained, each tier
    seeing only the previous tier's survivors:

      1. exact md5 groups     -> non-minimal members leave as exact_dup
      2. MinHash/LSH buckets  -> candidate pairs among exact survivors
      3. ngram-Jaccard verify -> candidates (capped gram universe)
         at/above ``verify_threshold`` become confirmed near-dup edges
      4. connected components + longest-text canonical -> near_dup

    Returns one row per input doc: (id_col, status, canonical_id) with
    status in {kept, exact_dup, near_dup}. An exact_dup whose exact
    canonical was itself absorbed as a near-dup resolves through to the
    cluster canonical, so canonical_id always names a kept doc.

    At 100 TB each tier's cost profile is what makes the order matter:
    tier 1 is one shuffle on a 16-byte key and typically removes the
    bulk; tiers 2-3 never form all-pairs (bucket join + per-candidate
    gram-array intersection); tier 4's graph is bounded by verified
    pairs.
    ``max_bucket_size`` (production: set it; None keeps exact oracle
    semantics) additionally caps any DEGENERATE LSH bucket —
    boilerplate-collapsed signatures — before the tier-2 self-join;
    see minhash_lsh_candidates.

    Every DataFrame cached on the caller's behalf (the exact-tier
    assignment, the survivor set, and the verify tier's gram-array or
    per-gram table) is pinned with ``cache.pin``: wrap
    the action that materializes the result in ``cache_scope()``, or
    repeated calls in a long-lived session accumulate cache entries.
    """
    # NULL text hashes to NULL and an equi-join on a NULL key matches
    # nothing — without the sentinel, every NULL-text doc (routine in
    # real crawls) silently VANISHES from the output, breaking the
    # one-row-per-input-doc contract. The per-doc sentinel gives each
    # its own singleton exact group: no content, no dedup decision,
    # status 'kept'. (Oracle mirror: coalesce in _dedup_tiers_sql.)
    hashed = docs.select(
        F.col(id_col),
        F.coalesce(
            F.md5(F.encode(_norm_text(F.col(text_col)), "UTF-8")),
            F.concat(F.lit("__null__"), F.col(id_col).cast("string")),
        ).alias("_h"),
    )
    canon = hashed.groupBy("_h").agg(F.min(id_col).alias("_exact_canon"))
    assigned = hashed.join(canon, "_h").select(id_col, "_exact_canon")
    # assigned feeds exact_dups AND the survivor semi-join; surv feeds
    # FOUR consumers (LSH shingles, verify shingles, cluster canonical
    # lengths, kept_rows). Unpinned, each consumer re-runs the md5
    # groupBy(+ the upstream corpus scan) from scratch — measured 14.1 s
    # for the crawl entity tier vs ~9 s of actual distinct work (r06,
    # guide §5: cache what is reused and expensive).
    assigned = pin(assigned)
    exact_dups = assigned.filter(F.col(id_col) != F.col("_exact_canon"))
    surv = pin(
        docs.join(
            assigned.filter(F.col(id_col) == F.col("_exact_canon")).select(id_col),
            id_col,
            "leftsemi",
        )
    )

    cands = minhash_lsh_candidates(
        surv, id_col, text_col, shingle_k, num_hashes, bands, minhash_hash_fn,
        max_bucket_size=max_bucket_size,
    )
    verified = ngram_jaccard_pairs(
        surv,
        candidates=cands,
        id_col=id_col,
        text_col=text_col,
        k=verify_k,
        threshold=verify_threshold,
        max_doc_freq=max_doc_freq,
    )
    clusters = dedup_clusters(
        surv, verified.select("id_a", "id_b"), id_col, text_col, method
    )
    cluster_canon = clusters.filter(F.col("is_canonical")).select(
        "cluster_id", F.col(id_col).alias("_near_canon")
    )
    near = (
        clusters.filter(~F.col("is_canonical"))
        .join(cluster_canon, "cluster_id")
        .select(F.col(id_col), F.col("_near_canon"))
    )

    remap = near.select(
        F.col(id_col).alias("_exact_canon"),
        F.col("_near_canon").alias("_resolved"),
    )
    exact_rows = (
        exact_dups.join(remap, "_exact_canon", "left")
        .select(
            F.col(id_col),
            F.lit("exact_dup").alias("status"),
            F.coalesce("_resolved", "_exact_canon").alias("canonical_id"),
        )
    )
    near_rows = near.select(
        F.col(id_col),
        F.lit("near_dup").alias("status"),
        F.col("_near_canon").alias("canonical_id"),
    )
    kept_rows = (
        surv.select(id_col)
        .join(near.select(id_col), id_col, "left_anti")
        .select(
            F.col(id_col),
            F.lit("kept").alias("status"),
            F.col(id_col).alias("canonical_id"),
        )
    )
    return kept_rows.unionByName(exact_rows).unionByName(near_rows)


def embedding_neardup_pairs(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    threshold: float = 0.98,
    bits: int = 8,
    tables: int = 4,
    seed: int = 42,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — the fifth dedup tier
    (semantic near-dups that share no shingles).

    Scale path: hyperplane-LSH signature self-join (simsearch's seeded
    exact-binary-fraction planes, so the whole path is oracle-checkable)
    → candidate pairs from shared (table, sig) buckets only — never
    all-pairs — → exact cosine re-check ``>= threshold``. Recall is the
    standard LSH trade (P[match found] = 1-(1-p^bits)^tables with
    p = 1 - angle/pi); more tables buy recall linearly in cost.

    ``max_bucket_size``: degenerate-bucket skew guard, same contract
    as minhash_lsh_candidates — anisotropic embedding sets (most
    real encoder outputs cluster in a narrow cone) can collapse a
    (table, sig) bucket to a large fraction of the corpus; oversized
    buckets are dropped before the self-join. None = exact
    oracle-checked semantics.

    Returns (id_a, id_b, cosine) with id_a < id_b.
    """
    from .simsearch import _dot, _norm, drop_zero_vectors, hyperplane_signatures

    # Zero/empty vectors: no direction -> no cosine; unguarded, one
    # such row DIVIDE_BY_ZEROs the whole job under ANSI.
    vectors = drop_zero_vectors(vectors, vec_col)
    sigs = hyperplane_signatures(
        vectors, id_col, vec_col, dim, bits, tables, seed
    )
    if max_bucket_size is not None:
        small = (
            sigs.groupBy("table", "sig")
            .agg(F.count("*").alias("_n"))
            .filter(F.col("_n") <= max_bucket_size)
            .select("table", "sig")
        )
        sigs = sigs.join(small, ["table", "sig"], "leftsemi")
    left = sigs.select(F.col(id_col).alias("id_a"), "table", "sig")
    right = sigs.select(F.col(id_col).alias("id_b"), "table", "sig")
    cands = (
        left.join(right, ["table", "sig"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    # Norms hoisted to the per-ROW projections (r06): the interpreted
    # higher-order fold runs once per vector instead of once per
    # candidate pair — identical doubles, identical rounding.
    va = vectors.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("_va"),
        _norm(F.col(vec_col)).alias("_na"),
    )
    vb = vectors.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("_vb"),
        _norm(F.col(vec_col)).alias("_nb"),
    )
    return (
        cands.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                _dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb")),
                4,
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def simhash64(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """SimHash fingerprint from k-gram shingles, pure JVM.

    For each bit: +1 if the shingle hash has the bit set else -1;
    fingerprint bit = sign of the sum. Computed as N conditional sums
    in ONE aggregation (map-side partial agg).

    hash_fn:
      * ``xxhash64`` — production default (fastest JVM hash); 63 bits
        (bit 63 is the sign bit; fingerprints stay positive).
      * ``md5_60``   — 60 bits parsed from the first 15 hex chars of
        md5(gram). Slower, but md5 exists in DuckDB with identical
        output, so the ENTIRE simhash path (bit sums, sign, chunked
        hamming join) becomes oracle-checkable. Same operator code
        either way.
    """
    sh = shingles(docs, id_col, text_col, k)
    if hash_fn == "xxhash64":
        sh = sh.withColumn("h", F.xxhash64(F.col("gram")))
        nbits = 63
    elif hash_fn == "md5_60":
        # 15 hex chars = 60 bits, fits a signed long under ANSI casts.
        sh = sh.withColumn(
            "h", F.conv(F.substring(F.md5(F.col("gram")), 1, 15), 16, 10).cast("long")
        )
        nbits = 60
    else:
        raise ValueError(f"unknown hash_fn: {hash_fn}")
    aggs = [
        F.sum(
            F.when(F.col("h").bitwiseAND(F.lit(1 << b)) != 0, 1).otherwise(-1)
        ).alias(f"b{b}")
        for b in range(nbits)
    ]
    sums = sh.groupBy(id_col).agg(*aggs)
    fp = F.lit(0).cast("long")
    for b in range(nbits):
        fp = fp + F.when(F.col(f"b{b}") > 0, F.lit(1 << b).cast("long")).otherwise(F.lit(0))
    return sums.select(F.col(id_col), fp.alias("simhash"))


def simhash_near_dupes(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
    max_hamming: int = 3,
    hash_fn: str = "xxhash64",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= max_hamming.

    Scale path: block on 4 x 16-bit chunks (pigeonhole — any pair
    within hamming 3 agrees on at least one chunk), join per chunk,
    verify hamming via bit_count. Never all-pairs — except a
    degenerate chunk bucket (boilerplate-dominated fingerprints all
    sharing a 16-bit chunk), guarded by opt-in ``max_bucket_size``
    exactly like minhash_lsh_candidates: oversized (chunk, key)
    buckets are dropped before the self-join (a pair within the
    hamming radius usually agrees on MORE than one chunk, so it
    survives through its non-degenerate chunks). None = exact
    oracle-checked semantics.
    """
    if max_hamming > 3:
        # 4 chunks pigeonhole-guarantee recall only through hamming 3:
        # at 4+ a pair can differ in every chunk and silently never
        # meet — a recall hole indistinguishable from correct output.
        raise ValueError(
            f"max_hamming={max_hamming} exceeds the 4-chunk pigeonhole "
            "bound (3); increase the chunk count to support it"
        )
    fps = simhash64(docs, id_col, text_col, k, hash_fn=hash_fn)
    chunks = fps.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk"),
                        F.shiftright("simhash", i * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("key"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("c"),
    ).select(id_col, "simhash", F.col("c.chunk").alias("chunk"), F.col("c.key").alias("key"))

    if max_bucket_size is not None:
        small = (
            chunks.groupBy("chunk", "key")
            .agg(F.count("*").alias("_n"))
            .filter(F.col("_n") <= max_bucket_size)
            .select("chunk", "key")
        )
        chunks = chunks.join(small, ["chunk", "key"], "leftsemi")

    left = chunks.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"), "chunk", "key"
    )
    right = chunks.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"), "chunk", "key"
    )
    return (
        left.join(right, ["chunk", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def dedup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    method: str = "propagate",
) -> DataFrame:
    """Near-duplicate clusters with canonical selection — the "keep
    one" step of a training-data dedup pipeline.

    Candidate pairs from any tier (minhash/simhash/jaccard) become an
    undirected graph; connected components give transitive dup groups
    (doc A ~ B ~ C collapses even when A and C never paired); the
    canonical survivor per cluster is the LONGEST normalized text,
    ties to the smallest id. Returns one row per clustered doc:
    (id_col, cluster_id, cluster_size, is_canonical). Docs in no pair
    are implicitly canonical and not returned.

    Scale: the component step is the same O(diameter) propagation /
    O(log n) bigstar used for entity clusters; canonical selection is
    one window over cluster_id — clusters are tiny relative to the
    corpus, so no skew concern beyond what AQE handles.
    """
    from pyspark.sql import Window
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    from .clustering import connected_components, connected_components_bigstar

    id_type = docs.schema[id_col].dataType
    if not isinstance(id_type, (ByteType, ShortType, IntegerType, LongType)):
        # Fail at plan time: cast("long") on string ids would throw
        # CAST_INVALID_INPUT mid-job under ANSI — or, with ANSI off,
        # silently NULL every node and label all true near-dups 'kept'.
        raise TypeError(
            f"dedup_clusters requires an integral {id_col!r} "
            f"(got {id_type.simpleString()}); map string ids to longs "
            "(e.g. xxhash64) upstream"
        )
    edges = pairs.select(
        F.col("id_a").cast("long").alias("src"),
        F.col("id_b").cast("long").alias("dst"),
    )
    if method == "bigstar":
        comp = connected_components_bigstar(edges)
    elif method == "propagate":
        comp = connected_components(edges)
    else:
        raise ValueError(f"unknown clustering method: {method}")

    lens = docs.select(
        F.col(id_col).cast("long").alias("node"),
        F.length(_norm_text(F.col(text_col))).alias("n_chars"),
    )
    member = comp.join(lens, "node")
    by_cluster = Window.partitionBy("cluster_id")
    pick = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), F.col("node").asc()
    )
    return member.select(
        F.col("node").alias(id_col),
        F.col("cluster_id"),
        F.count("*").over(by_cluster).alias("cluster_size"),
        (F.row_number().over(pick) == 1).alias("is_canonical"),
    )


def line_key_expr(hash_fn: str):
    """Hash of the 'norm' column used as the line-frequency /
    anti-join key: ``xxhash64`` long (production), ``md5`` hex string
    (oracle-portable). Shared with the streaming line store so both
    sides key identically."""
    if hash_fn == "xxhash64":
        return F.xxhash64(F.col("norm"))
    if hash_fn == "md5":
        return F.md5(F.encode(F.col("norm"), "UTF-8"))
    raise ValueError(f"unknown hash_fn: {hash_fn}")


def exploded_lines(
    docs: DataFrame, id_col: str, text_col: str, hash_fn: str
) -> DataFrame:
    """(id, pos, line, norm, k): non-empty lines of each document with
    the normalized form and its hash key. NULL text = no lines."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    return (
        docs.select(F.col(id_col), F.posexplode(F.split(t, "\n")))
        .withColumnRenamed("col", "line")
        .withColumn("norm", _norm_text(F.col("line")))
        .where(F.col("norm") != "")
        .withColumn("k", line_key_expr(hash_fn))
    )


def line_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 2,
    hash_fn: str = "xxhash64",
    boilerplate: DataFrame | None = None,
) -> DataFrame:
    """CCNet-style cross-document line (paragraph) deduplication
    (Wenzek et al. 2019, public): drop every line whose normalized form
    (lower + collapsed whitespace) appears in >= ``min_docs`` DISTINCT
    documents — navigation bars, cookie banners, footers — and
    reassemble each document from its surviving lines in original
    order. Empty/whitespace-only lines are always dropped.

    Returns (id, clean_text, n_lines_kept, n_lines_dropped); documents
    whose every line is boilerplate come back with clean_text '' (not
    dropped from the output — a downstream length filter decides).

    hash_fn: ``xxhash64`` hashes the normalized line to a long for the
    frequency table and anti-join key (production — short shuffle
    keys); ``md5`` uses the hex string (oracle-portable to DuckDB).

    ``boilerplate`` overrides the frequency source: a (k) DataFrame of
    already-known boilerplate line hashes (e.g. the accumulated
    streaming line store, streaming/dedup.py) — ``min_docs`` is then
    the caller's concern. Default None derives it from ``docs``.

    Scale shape (r06): posexplode -> frequency groupBy on the line
    hash -> ONE flagging join on the same hash -> ONE doc-keyed
    aggregate computing the rebuilt text, kept count and total count
    together (collect_list skips the NULL the non-kept flag produces,
    so the keep/drop split happens inside the aggregate) — two linear
    keyed shuffles of the line table instead of the old anti join +
    two separate doc regroupings. No all-pairs. The boilerplate side
    is the DISTINCT over-threshold hash set, typically tiny relative
    to the corpus (AQE broadcasts it when it fits).
    """
    lines = exploded_lines(docs, id_col, text_col, hash_fn)
    boiler = (
        lines.groupBy("k")
        .agg(F.countDistinct(id_col).alias("nd"))
        .where(F.col("nd") >= min_docs)
        .select("k")
        if boilerplate is None
        else boilerplate.select("k")
    )
    flagged = lines.join(
        boiler.withColumn("_boiler", F.lit(True)), on="k", how="left"
    )
    keep = F.col("_boiler").isNull()
    per_doc = flagged.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    # when() yields NULL for boilerplate lines and
                    # collect_list drops NULLs — only kept lines enter
                    # the rebuilt text, in original position order.
                    F.collect_list(
                        F.when(keep, F.struct(F.col("pos"), F.col("line")))
                    )
                ),
                lambda x: x["line"],
            ),
            "\n",
        ).alias("clean_text"),
        F.sum(F.when(keep, 1).otherwise(0)).alias("n_lines_kept"),
        F.count("*").alias("n_lines"),
    )
    return (
        docs.select(id_col)
        .join(per_doc, on=id_col, how="left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            F.coalesce(F.col("n_lines_kept"), F.lit(0)).cast("long").alias("n_lines_kept"),
            (
                F.coalesce(F.col("n_lines"), F.lit(0))
                - F.coalesce(F.col("n_lines_kept"), F.lit(0))
            ).cast("long").alias("n_lines_dropped"),
        )
    )
