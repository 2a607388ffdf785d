"""Blocked fuzzy join — Algorithms 3/4 candidate generation + scoring.

Two blocking strategies, both from the reference:

* ``birthdate`` — candidates are all pairs sharing an exact birthdate
  (the in-memory nested loop's birthdate gate, mod.rs:972-1008, and the
  partitioned-streaming by_date blocking, mod.rs:3945-3951). Exact
  recall: the ladder requires birthdate equality anyway, so this
  blocking loses nothing.
* ``bkey_cascade`` — the blocked-CPU path (mod.rs:1033-1113): block on
  BKey(birth_year, first_initial, last_initial, soundex4(last)) with a
  per-probe-row fallback cascade tried only when the previous block is
  EMPTY:
     1. exact key
     2. (year, '?', last_initial, soundex)   — build rows with no
        alphabetic first name
     3. (year, first_initial, last_initial, soundex with digits 3-4
        zeroed) — build rows with a short/coarse soundex
  Candidate-emptiness is judged BEFORE the birthdate filter, exactly
  like the reference (the cascade checks `set.is_empty()` before
  `compare_persons` runs).

Plan shape (the part that matters at 100 TB):
* Candidate generation runs on SKINNY key tables (id + 6 key columns),
  persisted so the normalization/soundex UDF projection is computed
  once, not once per cascade branch. The cascade shuffles only those
  narrow rows.
* The fallback branches come from a LEFT OUTER chain — probes that
  matched branch N flow out as matched pairs, probes with no match
  flow into branch N+1 — so each branch is one join, with no
  anti-join recomputation of earlier branches.
* Wide payload columns (full name, metaphone code, original fields)
  are joined back by id once, AFTER candidate dedup, so the expensive
  strings cross the shuffle exactly once.

Skew: hot blocks (common birthdate + initials) are the scale risk.
AQE skew-join splitting handles the shuffle; `max_block_rows` further
refines any build-side block bigger than the cap by extending the key
with soundex4(first_name) on BOTH sides — deterministic, recall-safe
for names whose first token survives coarse phonetics. The same cap
guards the plain-birthdate blocking (placeholder-date pileups) by
extending hot date keys with sx_last — see candidates_birthdate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cache import pin
from ..functions.fuzzy import score_candidate_pairs
from .prepare import soundex4_col

_PAYLOAD_COLS = [
    "id", "uuid", "first_name", "middle_name", "last_name", "birthdate",
    "hh_id", "simple_first", "simple_middle", "simple_last", "full", "dmeta",
]
_KEY_COLS = [
    "id", "norm_first", "birth_year", "first_initial", "last_initial",
    "sx_last", "block_key",
]


def _prefixed(df: DataFrame, prefix: str, cols: list[str]) -> DataFrame:
    avail = [c for c in cols if c in df.columns]
    return df.select(*[F.col(c).alias(f"{prefix}{c}") for c in avail])


def candidates_birthdate(
    p1: DataFrame, p2: DataFrame, max_block_rows: int | None = None
) -> DataFrame:
    """(l_id, r_id) pairs sharing an exact birthdate (null drops out).

    ``max_block_rows`` is the skew guard for placeholder-date pileups
    (1900-01-01 / 1970-01-01 defaults in dirty registries): a plain
    birthdate equi-join goes quadratic inside any date shared by
    millions of rows, and AQE can only split the shuffle, not shrink
    the pair count. Build-side (p2) dates exceeding the cap get the
    join key extended with ``sx_last`` on BOTH sides — the same
    hot-block refinement ``_refine_hot_blocks`` applies to BKey
    blocking. Cold dates keep the bare-birthdate key, so on
    well-distributed data the guard detects nothing (one cheap
    aggregate) and the candidate set is provably identical. On a piled
    date, recall holds for every pair whose last names share a
    soundex4 code — at the downstream ladder's >=85% last-name
    similarity bar that is the overwhelming case. Requires prepared
    inputs (``sx_last``) when the cap is set.
    """
    lcols = [F.col("id").alias("l_id"), F.col("birthdate").alias("bd")]
    rcols = [F.col("id").alias("r_id"), F.col("birthdate").alias("bd")]
    if max_block_rows:
        lcols.append(F.col("sx_last").alias("l_sx"))
        rcols.append(F.col("sx_last").alias("r_sx"))
    left = p1.select(*lcols).filter(F.col("bd").isNotNull())
    right = p2.select(*rcols).filter(F.col("bd").isNotNull())
    if max_block_rows:
        hot = (
            right.groupBy("bd")
            .count()
            .filter(F.col("count") > max_block_rows)
            .select(F.col("bd").alias("hot_bd"))
        )
        if hot.limit(1).take(1):
            hot_b = F.broadcast(hot)

            def extend(df: DataFrame, sx: str) -> DataFrame:
                flagged = df.join(hot_b, df["bd"] == hot_b["hot_bd"], "left")
                # sx_last is a precomputed prepared column, so the
                # conditional key is pure JVM — no split-and-union
                # needed (unlike _refine_hot_blocks, whose extension
                # runs a phonetic UDF).
                key = F.when(
                    F.col("hot_bd").isNotNull(),
                    F.concat_ws("|", F.col("bd").cast("string"), F.col(sx)),
                ).otherwise(F.col("bd").cast("string"))
                return flagged.withColumn("bk", key).drop("hot_bd", "bd", sx)

            left, right = extend(left, "l_sx"), extend(right, "r_sx")
            return left.join(right, "bk").select("l_id", "r_id")
    return left.join(right, "bd").select("l_id", "r_id")


def candidates_bkey_cascade(
    p1: DataFrame,
    p2: DataFrame,
    max_block_rows: int | None = None,
) -> DataFrame:
    """(l_id, r_id) candidate pairs from the three prioritized block
    branches, computed over narrow key tables (pinned; see cache.py).
    """

    # Persist the narrow tables BEFORE anything consumes them: every
    # downstream use (hot-key count, three join branches, broadcasts)
    # must read the cache, not re-run the normalization UDF chain — at
    # high parallelism those recomputations run as concurrent Python
    # stages and oversubscribe the executor cores.
    left = pin(_prefixed(p1, "l_", _KEY_COLS))
    right = pin(_prefixed(p2, "r_", _KEY_COLS))
    fallback_right = right
    if max_block_rows:
        refined = _refine_hot_blocks(left, right, max_block_rows)
        if refined is not None:
            left, right = refined
            left, right = pin(left), pin(right)
            # Fallback-branch skew cap, FREE: the fallback keys —
            # (year, li, sx) over the '?' subset in branch 2,
            # (year, fi, li, sx) in branch 3 — partition rows
            # identically to block_key (injective concat), so a
            # fallback group exceeds the cap iff its block was hot.
            # The fallbacks are best-effort recall recovery; excluding
            # a multi-million-row degenerate group mirrors the LSH
            # degenerate-bucket cap (branch 1 still refines it).
            fallback_right = right.filter(~F.col("r_was_hot"))

    # Branch 1: exact BKey. Left-outer so unmatched probes feed branch 2.
    j1 = left.join(
        right, F.col("l_block_key") == F.col("r_block_key"), "left_outer"
    )
    b1 = j1.filter(F.col("r_id").isNotNull()).select("l_id", "r_id")
    left2 = j1.filter(F.col("r_id").isNull()).select(*left.columns)

    # Branch 2: probe key with first_initial '?' — matches build rows
    # whose first name has no alphabetic char.
    right_q = fallback_right.filter(F.col("r_first_initial") == "?")
    j2 = left2.join(
        right_q,
        (F.col("l_birth_year") == F.col("r_birth_year"))
        & (F.col("l_last_initial") == F.col("r_last_initial"))
        & (F.col("l_sx_last") == F.col("r_sx_last")),
        "left_outer",
    )
    b2 = j2.filter(F.col("r_id").isNotNull()).select("l_id", "r_id")
    left3 = j2.filter(F.col("r_id").isNull()).select(*left.columns)

    # Branch 3: coarse soundex — probe's soundex with digits 3-4 zeroed
    # must equal the build row's FULL soundex. fallback_right: the
    # branch key is components, so branch 1's block_key refinement does
    # NOT protect it — the was-hot exclusion does.
    right3 = fallback_right
    coarse = F.concat(F.substring(F.col("l_sx_last"), 1, 2), F.lit("00"))
    b3 = (
        left3.join(
            right3,
            (F.col("l_birth_year") == F.col("r_birth_year"))
            & (F.col("l_first_initial") == F.col("r_first_initial"))
            & (F.col("l_last_initial") == F.col("r_last_initial"))
            & (coarse == F.col("r_sx_last")),
            "inner",
        )
        .select("l_id", "r_id")
    )
    return b1.unionByName(b2).unionByName(b3)


def _refine_hot_blocks(
    left: DataFrame, right: DataFrame, max_block_rows: int
) -> tuple[DataFrame, DataFrame] | None:
    """Extend block_key with soundex4(first) inside oversized blocks.

    Build-side blocks with more than ``max_block_rows`` rows get the
    extra component on BOTH sides (hotness judged on the build side
    only, so the two sides agree). Bounds the per-block pair count
    without dropping data; residual skew is AQE's job.

    Returns None when NO block is hot — the common case, detected with
    one cheap aggregate over the cached narrow key table, so the
    default-on cap costs near-zero on well-distributed inputs. When
    blocks ARE hot, the phonetic UDF runs only on the hot slice
    (split-and-union): a pandas UDF inside a when() is still evaluated
    for every row, so the conditional form would pay the Python tax on
    the whole table.
    """
    hot = (
        right.groupBy("r_block_key")
        .count()
        .filter(F.col("count") > max_block_rows)
        .select(F.col("r_block_key").alias("hot_key"))
    )
    if not hot.limit(1).take(1):
        return None
    hot_b = F.broadcast(hot)

    def extend(df: DataFrame, prefix: str, tag: bool = False) -> DataFrame:
        # norm_first, NOT the raw name: every other key component is
        # built from normalized text, and soundex4 of a raw accented
        # name ('Ángel' -> 'N240', the diacritic byte is dropped) would
        # split accent-variant pairs into different refined blocks —
        # losing direct-match-grade pairs exactly inside hot blocks.
        key, first = f"{prefix}block_key", f"{prefix}norm_first"
        flagged = df.join(hot_b, df[key] == hot_b["hot_key"], "left")
        hot_rows = (
            flagged.filter(F.col("hot_key").isNotNull())
            .withColumn(key, F.concat_ws("|", key, soundex4_col(F.col(first))))
            .drop("hot_key")
        )
        cold_rows = flagged.filter(F.col("hot_key").isNull()).drop("hot_key")
        if tag:
            # r_was_hot marks rows of OVERSIZED original blocks. The
            # fallback branches reuse it as their skew cap for free:
            # every fallback build-side grouping — (year, li, sx) over
            # the '?' subset, (year, fi, li, sx) over the full table —
            # partitions rows IDENTICALLY to block_key (the key is an
            # injective concat of those components), so "fallback group
            # over cap" == "original block_key over cap", with no
            # second aggregate and nothing to do when no block is hot.
            hot_rows = hot_rows.withColumn("r_was_hot", F.lit(True))
            cold_rows = cold_rows.withColumn("r_was_hot", F.lit(False))
        return hot_rows.unionByName(cold_rows)

    return extend(left, "l_"), extend(right, "r_", tag=True)


def candidates_algo7(
    p1: DataFrame,
    p2: DataFrame,
    max_block_rows: int | None = None,
) -> DataFrame:
    """Algorithm-7 candidate pairs (mod.rs:1151-1221): the reference's
    deprecated fuzzy-birthdate blocking. Per probe row:

      1. exact BKey(year, fi, li, sx)
      2. if 1 empty: (year, '?', li, sx) — build rows w/ no alpha first
      3. UNCONDITIONALLY: (year±1, fi, li, sx) — the range-join part,
         realized Spark-first by exploding each probe into its two
         neighbor years and equi-joining (banding, not a theta-join:
         the shuffle stays a hash join on the composite key)
      4. if 1-3 all empty: (year, fi, li, coarse sx) — probe's soundex
         with digits 3-4 zeroed equals the build row's FULL soundex

    Branches are provably disjoint (different year or a probe set the
    earlier branches left empty), so no dedup pass is needed — same
    invariant the reference gets from its per-probe HashSet.

    ``max_block_rows``: the same skew posture as the cascade — branch 1
    refines hot block_keys with soundex4(norm_first); the coarser-key
    branches (2-4) exclude was-hot build rows (see
    candidates_bkey_cascade — the component groupings partition rows
    identically to block_key, so the refinement's hot set IS the cap).
    """
    left = pin(_prefixed(p1, "l_", _KEY_COLS))
    right = pin(_prefixed(p2, "r_", _KEY_COLS))
    fallback_right = right
    if max_block_rows:
        refined = _refine_hot_blocks(left, right, max_block_rows)
        if refined is not None:
            left, right = refined
            left, right = pin(left), pin(right)
            fallback_right = right.filter(~F.col("r_was_hot"))

    # 1. exact key, left-outer so unmatched probes feed branch 2.
    j1 = left.join(
        right, F.col("l_block_key") == F.col("r_block_key"), "left_outer"
    )
    b1 = j1.filter(F.col("r_id").isNotNull()).select("l_id", "r_id")
    left2 = j1.filter(F.col("r_id").isNull()).select(*left.columns)

    # 2. '?' first-initial fallback for probes branch 1 left empty.
    right_q = fallback_right.filter(F.col("r_first_initial") == "?")
    j2 = left2.join(
        right_q,
        (F.col("l_birth_year") == F.col("r_birth_year"))
        & (F.col("l_last_initial") == F.col("r_last_initial"))
        & (F.col("l_sx_last") == F.col("r_sx_last")),
        "left_outer",
    )
    b2 = j2.filter(F.col("r_id").isNotNull()).select("l_id", "r_id")
    left3 = j2.filter(F.col("r_id").isNull()).select(*left.columns)

    right_comp = fallback_right

    # 3. ±1 year for EVERY probe (not a fallback): band the range.
    banded = left.withColumn(
        "l_by_adj",
        F.explode(F.array(F.col("l_birth_year") - 1, F.col("l_birth_year") + 1)),
    )
    bpm = banded.join(
        right_comp,
        (F.col("l_by_adj") == F.col("r_birth_year"))
        & (F.col("l_first_initial") == F.col("r_first_initial"))
        & (F.col("l_last_initial") == F.col("r_last_initial"))
        & (F.col("l_sx_last") == F.col("r_sx_last")),
        "inner",
    ).select("l_id", "r_id")

    # 4. coarse soundex, only for probes with NOTHING from 1-3.
    left4 = left3.join(bpm.select("l_id").distinct(), "l_id", "left_anti")
    coarse = F.concat(F.substring(F.col("l_sx_last"), 1, 2), F.lit("00"))
    b4 = left4.join(
        right_comp,
        (F.col("l_birth_year") == F.col("r_birth_year"))
        & (F.col("l_first_initial") == F.col("r_first_initial"))
        & (F.col("l_last_initial") == F.col("r_last_initial"))
        & (coarse == F.col("r_sx_last")),
        "inner",
    ).select("l_id", "r_id")

    return b1.unionByName(b2).unionByName(bpm).unionByName(b4)


def match_algo7(
    p1: DataFrame,
    p2: DataFrame,
    max_block_rows: int | None = 10_000,
) -> DataFrame:
    """Algorithm 7 — fuzzy names (no middle) + fuzzy birthdate
    (compare_persons_algo7_no_mid, mod.rs:1139-1149). DEPRECATED in the
    reference (mod.rs:933-936; main.rs:169 rejects it) but shipped here
    for surface completeness: both birthdates non-null (no equality
    gate), name score from the standard no-middle ladder, composite
    0.7·name + 0.3·date-similarity on the percent scale.
    """
    from ..functions.dates import algo7_score, birthdate_similarity_pct

    p1, p2 = pin(p1), pin(p2)
    cands = candidates_algo7(p1, p2, max_block_rows=max_block_rows)
    lpay = _prefixed(p1, "l_", _PAYLOAD_COLS)
    rpay = _prefixed(p2, "r_", _PAYLOAD_COLS)
    pairs = cands.join(lpay, "l_id").join(rpay, "r_id")
    gated = pairs.filter(
        F.col("l_birthdate").isNotNull() & F.col("r_birthdate").isNotNull()
    )
    scored = score_candidate_pairs(gated, include_middle=False)
    bd = birthdate_similarity_pct(F.col("l_birthdate"), F.col("r_birthdate"))
    composite = (
        scored.withColumn("_bd_pct", bd)
        .withColumn("score", algo7_score(F.col("score"), F.col("_bd_pct")))
        .withColumn("confidence", F.col("score") / 100.0)
        .withColumn(
            "match_case",
            F.concat_ws(
                ",",
                F.lit("fuzzy7"),
                F.col("match_case"),
                F.concat(
                    F.lit("birthdate:"),
                    F.round(F.col("_bd_pct")).cast("int").cast("string"),
                    F.lit("%"),
                ),
            ),
        )
        .drop("_bd_pct")
    )
    out = _pair_output(composite)
    # Algo-7 has no birthdate-equality column contract; the shared
    # output shape keeps l_birthdate under "birthdate" like the others.
    return out


def _pair_output(scored: DataFrame) -> DataFrame:
    return scored.select(
        F.col("l_id").alias("id_1"),
        F.col("l_uuid").alias("uuid_1"),
        F.col("l_first_name").alias("first_name_1"),
        F.col("l_middle_name").alias("middle_name_1"),
        F.col("l_last_name").alias("last_name_1"),
        F.col("l_birthdate").alias("birthdate"),
        F.col("r_id").alias("id_2"),
        F.col("r_uuid").alias("uuid_2"),
        *([F.col("r_hh_id").alias("hh_id_2")] if "r_hh_id" in scored.columns else []),
        F.col("r_first_name").alias("first_name_2"),
        F.col("r_middle_name").alias("middle_name_2"),
        F.col("r_last_name").alias("last_name_2"),
        F.col("score"),
        F.col("confidence"),
        F.col("match_case"),
    )


def match_fuzzy(
    p1: DataFrame,
    p2: DataFrame,
    include_middle: bool,
    blocking: str = "bkey_cascade",
    max_block_rows: int | None = 10_000,
) -> DataFrame:
    """Algorithm 3 (include_middle=True) / 4 (False): candidates ->
    payload join -> birthdate gate -> fuzzy ladder -> matched pairs.

    ``prepare_persons`` must have been called with the SAME
    include_middle (it decides the `full`/`dmeta` variant).

    ``max_block_rows`` defaults ON (10k): a single hot block (common
    birthdate + initials) otherwise goes quadratic at crawl scale — AQE
    splits the shuffle but cannot cap the pair count inside a block.
    Pass None only for small, trusted inputs.

    Every DataFrame this call persists (inputs it pinned + internal key
    tables) goes through ``cache.pin``: a caller that wraps the
    materializing action in ``cache_scope()`` releases them all.
    """
    # The prepared tables are consumed twice (narrow key projection +
    # wide payload join); unpersisted, the Python-UDF prepare chain
    # (normalize ×3 + metaphone + soundex) would run twice per side.
    # Persist on the caller's behalf unless they already did — at scale
    # this is the standard "materialize the prepared table once"
    # discipline (memory and disk: spills, never recomputes Python).
    p1, p2 = pin(p1), pin(p2)

    if blocking == "birthdate":
        cands = candidates_birthdate(p1, p2, max_block_rows)
    elif blocking == "bkey_cascade":
        cands = candidates_bkey_cascade(p1, p2, max_block_rows)
    else:
        raise ValueError(f"unknown blocking strategy: {blocking}")

    lpay = _prefixed(p1, "l_", _PAYLOAD_COLS)
    rpay = _prefixed(p2, "r_", _PAYLOAD_COLS)
    pairs = cands.join(lpay, "l_id").join(rpay, "r_id")

    # Exact-birthdate gate (mod.rs:144-153): null disqualifies; applied
    # BEFORE scoring so the JW UDF only sees real candidates.
    gated = pairs.filter(
        F.col("l_birthdate").isNotNull()
        & (F.col("l_birthdate") == F.col("r_birthdate"))
    )
    scored = score_candidate_pairs(gated, include_middle=include_middle)
    return _pair_output(scored)
