"""Physical-plan quality gates: the properties that make the engine
viable at 100 TB, asserted on the actual executed plans.

- filters reach the parquet scan (PushedFilters)
- column pruning reaches the scan (ReadSchema carries only used cols)
- exact joins and dedup/text paths contain ZERO Python nodes
- the fuzzy scoring plan evaluates the JW kernel exactly once
- whole-stage codegen wraps the relational sections
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.01"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_and_pruning(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = li.filter(F.col("l_quantity") > 45).select("l_orderkey", "l_quantity")
    plan = _plan(q)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)" in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_extendedprice" not in read_schema  # pruned


def test_exact_join_no_python(spark):
    """Algo-1/2 are pure JVM once the prepare columns exist: the join
    itself must not re-enter Python."""
    from name_matcher_spark import harness
    from name_matcher_spark.operators.exact import match_algo1

    pa = harness.persons_a(spark, SF)
    pb = harness.persons_b(spark, SF)
    # emulate checkpointed prepare outputs (as the pipeline produces)
    pa = pa.withColumn("norm_first", F.lower("first_name")).withColumn(
        "norm_last", F.lower("last_name")
    )
    pb = pb.withColumn("norm_first", F.lower("first_name")).withColumn(
        "norm_last", F.lower("last_name")
    )
    plan = _plan(match_algo1(pa, pb))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # a real hash-based equi-join on the composite key, not a loop
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_dedup_and_text_paths_jvm_only(spark):
    from name_matcher_spark.operators.dedup import (
        minhash_lsh_candidates,
        simhash64,
    )
    from name_matcher_spark.operators.text import lang_id, quality_metrics

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    for df in (
        minhash_lsh_candidates(docs),
        simhash64(docs),
        lang_id(docs),
        quality_metrics(docs),
    ):
        plan = _plan(df)
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


@pytest.mark.parametrize("hash_fn", ["xxhash64", "md5"])
def test_band_buckets_single_kernel_no_shuffle(spark, hash_fn):
    """MinHash band keys are one compiled call per document: no
    shingle explode, no signature aggregate, no shuffle, no Python."""
    from name_matcher_spark.operators.dedup import band_buckets

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(band_buckets(docs, hash_fn=hash_fn))
    assert plan.count("nms_minhash_bands(") == 1, plan
    for node in ("Exchange", "HashAggregate", "ArrowEvalPython", "BatchEvalPython"):
        assert node not in plan, plan


def test_fuzzy_scoring_single_kernel_eval(spark):
    """The Generate barrier keeps the JW kernel at exactly one
    evaluation per row (CollapseProject would otherwise inline it into
    every ladder predicate — observed 5x before the fix)."""
    from name_matcher_spark import harness
    from name_matcher_spark.operators.fuzzy_join import match_fuzzy
    from name_matcher_spark.operators.prepare import prepare_persons

    pa = prepare_persons(harness.persons_a(spark, SF), include_middle=False)
    pb = prepare_persons(harness.persons_b(spark, SF), include_middle=False)
    plan = _plan(match_fuzzy(pa, pb, include_middle=False))
    assert plan.count("nms_jw_pct") == 1
    assert "Generate explode" in plan


def test_registered_ngram_variant_is_capped(spark):
    """The REGISTERED dd_ngram_jaccard must run the stop-gram cut. r06
    rewrote the all-pairs path as one per-gram aggregate + sorted-list
    pair explode (no two-sided gram self-join), so the cut is now the
    size(ds) <= cap filter ON that aggregate — assert the filter is in
    the plan and the old gram equi-join shape is gone (a 'gram JOIN
    gram' self-join reappearing would mean the quadratic stop-gram
    hazard is back)."""
    from name_matcher_spark import harness

    df = harness.dd_ngram_jaccard(spark, SF)
    plan = _plan(df)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert "size(ds" in plan or "size(ds" in opt
    # pair stream comes from the Generate (explode of combinations),
    # not from a gram-keyed join: the only joins left are the two
    # per-doc size attachments.
    assert "Generate explode" in plan
    assert "gram#" not in opt.split("Generate")[0], (
        "gram column flows above the pair explode — self-join shape is back"
    )


def test_overlap_stats_single_lazy_plan(spark):
    """algo_overlap_stats must be ONE lazy plan (no driver actions
    inside): building the DataFrame must run zero Spark jobs."""
    from name_matcher_spark.sources.export import algo_overlap_stats

    a = spark.createDataFrame([(1, 2), (3, 4)], "id_1 long, id_2 long")
    b = spark.createDataFrame([(1, 2), (5, 6)], "id_1 long, id_2 long")
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    out = algo_overlap_stats(a, b)
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert after == before, "algo_overlap_stats triggered driver actions eagerly"
    rows = {r.bucket: r.n_pairs for r in out.collect()}
    assert rows == {"both": 1, "only_first": 1, "only_second": 1}


def test_broadcast_for_small_dimension(spark):
    """Small dims broadcast (no shuffle of the fact side)."""
    n = spark.read.parquet(f"{SF}/nation.parquet")
    c = spark.read.parquet(f"{SF}/customer.parquet")
    q = c.join(n, c["c_nationkey"] == n["n_nationkey"]).groupBy("n_name").count()
    # AQE decides at runtime; materialize then check the final plan.
    q.collect()
    plan = _plan(q)
    assert "BroadcastHashJoin" in plan


def test_prepare_chain_zero_python(spark):
    """The per-record prepare chain contains ZERO Python nodes — the
    Arrow channel is the documented scaling ceiling, so the compiled
    normalize/soundex/metaphone kernels run the whole per-record path
    JVM-side (and the Java JW the per-pair path)."""
    from name_matcher_spark import harness
    from name_matcher_spark.operators.prepare import prepare_persons

    plan = _plan(prepare_persons(harness.persons_a(spark, SF)))
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan
    assert "nms_normalize_text" in plan and "nms_soundex4" in plan
    assert "nms_dmeta" in plan


def test_new_round3_operators_plan_quality(spark):
    """dd_pipeline and the URL canonicalizer must stay JVM-only (no
    Python nodes) and never form a cartesian product — the plan
    properties that make them viable at crawl scale."""
    from name_matcher_spark import harness

    for q in (harness.dd_pipeline, harness.wp_url_canon):
        plan = _plan(q(spark, SF))
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_wp_crawl_e2e_plan_quality(spark):
    """The crawl-composition chain (URL dedup -> html_to_text ->
    tiered dedup -> extract -> algo1 -> clusters) must keep the
    crawl-scale plan properties: no Python nodes, and no
    cartesian/nested-loop join anywhere."""
    from name_matcher_spark import harness

    plan = _plan(harness.wp_crawl_e2e(spark, "/root/testdata/sf0.001"))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_session_keeps_compute_dense_shuffles_wide(spark):
    """Regression for the AQE bytes-blind-coalescing fix: this
    engine's rows are short texts whose downstream stages fan out
    ~100 grams x several hash calls per row, so the session must set
    coalescePartitions.minPartitionSize low (64k) or AQE squeezes a
    few-MB survivor shuffle to 1-2 partitions and the dedup tiers run
    serially regardless of task slots (measured: 58 s of an 89 s
    crawl-e2e wall)."""
    assert spark.conf.get(
        "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    ) == "64k"
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_new_round4_text_operators_plan_quality(spark):
    """The round-4 text/dedup additions (repetition signals, line
    dedup, the composed quality filter) must stay JVM-only and never
    form a cartesian/nested-loop join — same crawl-scale gate as the
    round-3 operators."""
    from name_matcher_spark import harness

    for q in (
        harness.txt_quality,
        harness.dd_line_dedup,
        harness.txt_filter_pipeline,
        harness.txt_corpus_e2e,
    ):
        plan = _plan(q(spark, SF))
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, q
        assert "CartesianProduct" not in plan, q
        assert "BroadcastNestedLoopJoin" not in plan, q


def test_repetition_metrics_zero_shuffle(spark):
    """r06: the Gopher repetition signals are per-document statistics
    computed with sorted-array folds inside the row — the plan must
    contain NO Exchange (the old frequency-table formulation had three)
    and no Python."""
    from name_matcher_spark.operators.text import repetition_metrics

    docs = spark.createDataFrame(
        [(1, "a b a b a b"), (2, "x y z"), (3, None)],
        "doc_id long, text string",
    )
    plan = _plan(repetition_metrics(docs))
    assert "Exchange" not in plan
    assert "Python" not in plan


def test_filter_pipeline_zero_shuffle(spark):
    """r06: the composed C4/Gopher filter fuses quality + langid into
    the repetition pass — one projection, no join, no Exchange."""
    from name_matcher_spark.operators.text import text_filter_pipeline

    docs = spark.createDataFrame(
        [(1, "the quick brown fox and the lazy dog " * 5)],
        "doc_id long, text string",
    )
    plan = _plan(text_filter_pipeline(docs))
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "Python" not in plan


def test_repetition_fold_matches_frequency_table(spark):
    """Differential gate for the r06 sorted-fold rewrite: the fold must
    reproduce the old explode->frequency-table formulation bit for bit
    on the planted edge docs (runs, loops, single-token, empty, NULL,
    multiline dups)."""
    from name_matcher_spark import harness
    from name_matcher_spark.operators.text import repetition_metrics

    docs = spark.createDataFrame(
        harness.REPETITION_EXTRA_DOCS + [(999, None)],
        "doc_id long, text string",
    )

    t = F.coalesce(F.col("text"), F.lit(""))
    lines = F.filter(
        F.transform(F.split(t, "\n"), lambda x: F.trim(x)), lambda x: x != ""
    )
    toks = F.filter(F.split(F.lower(F.trim(t)), "\\s+"), lambda x: x != "")
    base = docs.select(
        F.col("doc_id"),
        F.size(lines).cast("long").alias("n_lines"),
        F.size(F.array_distinct(lines)).cast("long").alias("n_lines_distinct"),
        toks.alias("toks"),
    ).withColumn("n_tokens", F.size(F.col("toks")).cast("long"))
    n = F.col("n_tokens")
    grams2 = F.zip_with(
        F.slice(F.col("toks"), 1, F.greatest(n - 1, F.lit(0)).cast("int")),
        F.slice(F.col("toks"), 2, F.greatest(n - 1, F.lit(0)).cast("int")),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    grams5 = F.when(
        n >= 5,
        F.expr(
            "transform(sequence(1, int(n_tokens) - 4),"
            " i -> concat_ws(' ', slice(toks, i, 5)))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    exploded = base.select(
        "doc_id",
        F.explode(
            F.concat(
                F.transform(grams2, lambda g: F.struct(F.lit(2).alias("n"), g.alias("gram"))),
                F.transform(grams5, lambda g: F.struct(F.lit(5).alias("n"), g.alias("gram"))),
            )
        ).alias("g"),
    ).select("doc_id", F.col("g.n").alias("n"), F.col("g.gram").alias("gram"))
    freq = (
        exploded.groupBy("doc_id", "n", "gram").agg(F.count("*").alias("c"))
        .groupBy("doc_id", "n")
        .agg(
            F.max("c").alias("maxc"),
            F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0)).alias("dupc"),
        )
        .groupBy("doc_id")
        .agg(
            F.max(F.when(F.col("n") == 2, F.col("maxc"))).alias("max2"),
            F.max(F.when(F.col("n") == 5, F.col("dupc"))).alias("dup5"),
        )
    )
    out = base.join(freq, on="doc_id", how="left")
    frac = lambda mass: F.round(  # noqa: E731
        F.least(F.lit(1.0), mass / F.col("n_tokens").cast("double")), 4
    )
    old = out.select(
        "doc_id",
        F.col("n_lines"),
        F.col("n_tokens"),
        F.when(
            F.col("n_lines") > 0,
            F.round(F.lit(1.0) - F.col("n_lines_distinct").cast("double") / F.col("n_lines"), 4),
        ).otherwise(F.lit(0.0)).alias("dup_line_frac"),
        F.when(
            F.col("max2").isNotNull() & (F.col("n_tokens") > 0),
            frac(F.col("max2").cast("double") * 2.0),
        ).otherwise(F.lit(0.0)).alias("top_2gram_frac"),
        F.when(
            F.col("dup5").isNotNull() & (F.col("n_tokens") > 0),
            frac(F.col("dup5").cast("double") * 5.0),
        ).otherwise(F.lit(0.0)).alias("dup_5gram_frac"),
    )
    new = repetition_metrics(docs)
    assert new.exceptAll(old).count() == 0
    assert old.exceptAll(new).count() == 0
