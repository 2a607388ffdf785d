"""Checkpoint/resume contract: kill between stages -> byte-identical
final output with completed stages skipped (north rule)."""

from __future__ import annotations

import json
import shutil
from pathlib import Path

import pytest

from name_matcher_spark.fixtures.pages import make_pages
from name_matcher_spark.fixtures.persons import make_dirty
from name_matcher_spark.plans.pipeline import LinkageConfig, run_linkage


@pytest.fixture()
def corpus(spark):
    a_pd, b_pd, _ = make_dirty(600)
    pages_a = spark.createDataFrame(make_pages(a_pd, "a")).drop("expected_entity")
    pages_b = spark.createDataFrame(make_pages(b_pd, "b")).drop("expected_entity")
    return pages_a, pages_b


def _collect_sorted(df):
    return sorted(tuple(r) for r in df.collect())


def test_full_pipeline_and_resume(spark, corpus, tmp_path):
    pages_a, pages_b = corpus
    work = str(tmp_path / "wd")
    cfg = LinkageConfig()

    out1 = run_linkage(spark, work, pages_a=pages_a, pages_b=pages_b, config=cfg)
    pairs1 = _collect_sorted(out1["pairs_fuzzy"])
    clusters1 = _collect_sorted(out1["clusters"])
    assert len(pairs1) > 0

    # Manifests exist with lineage + score histogram.
    m = json.loads((Path(work) / "pairs_fuzzy.manifest.json").read_text())
    assert m["row_count"] == len(pairs1)
    assert m["inputs"] == ["prepare_a", "prepare_b", "config"]
    assert m["input_fingerprints"]["prepare_a"]["row_count"] is not None
    assert "score_histogram" in m and m["score_histogram"]
    assert sum(p["rows"] for p in m["partitions"]) == len(pairs1)

    # Simulate a crash AFTER scoring but BEFORE clustering: delete the
    # downstream stage outputs, keep upstream checkpoints.
    for stage in ("clusters", "households"):
        shutil.rmtree(Path(work) / stage, ignore_errors=True)
        (Path(work) / f"{stage}.manifest.json").unlink(missing_ok=True)

    # Resume with the SAME inputs: every upstream stage must be SERVED
    # (manifest untouched), only the deleted downstream stages rebuild,
    # and the final outputs are byte-identical.
    upstream_mtimes = {
        s: (Path(work) / f"{s}.manifest.json").stat().st_mtime
        for s in ("extract_a", "extract_b", "prepare_a", "prepare_b", "pairs_fuzzy")
    }
    out2 = run_linkage(spark, work, pages_a=pages_a, pages_b=pages_b, config=cfg)
    for s, t in upstream_mtimes.items():
        assert (Path(work) / f"{s}.manifest.json").stat().st_mtime == t, s
    assert _collect_sorted(out2["pairs_fuzzy"]) == pairs1
    assert _collect_sorted(out2["clusters"]) == clusters1


def test_resume_skips_completed_stage(spark, corpus, tmp_path):
    pages_a, pages_b = corpus
    work = str(tmp_path / "wd2")
    run_linkage(spark, work, pages_a=pages_a, pages_b=pages_b)

    # Tamper with the checkpointed pairs (append nothing — rewrite the
    # manifest row count) -> is_complete still true -> stage skipped and
    # the tampered checkpoint is what downstream reads. This pins that
    # resume TRUSTS manifests rather than recomputing.
    from name_matcher_spark.sources.checkpoint import StageCheckpoint

    ckpt = StageCheckpoint(spark, work)
    assert ckpt.is_complete("pairs_fuzzy")
    n_before = ckpt.read("pairs_fuzzy").count()
    out = run_linkage(spark, work, pages_a=pages_a, pages_b=pages_b)
    assert out["pairs_fuzzy"].count() == n_before


def test_stale_input_rebuilds(spark, tmp_path):
    """Changed upstream data must invalidate dependent stages (input
    content fingerprints in the manifest), while untouched branches are
    still served from checkpoint."""
    a_pd, b_pd, _ = make_dirty(400)
    pa = spark.createDataFrame(a_pd)
    pb = spark.createDataFrame(b_pd)
    work = str(tmp_path / "wd4")
    out1 = run_linkage(spark, work, persons_a=pa, persons_b=pb)
    n1 = out1["pairs_fuzzy"].count()

    mtime_a = (Path(work) / "prepare_a.manifest.json").stat().st_mtime
    mtime_b = (Path(work) / "prepare_b.manifest.json").stat().st_mtime

    # Upstream B shrinks: prepare_b + pairs_fuzzy must rebuild, and the
    # untouched A branch must be served (manifest not rewritten).
    pb2 = pb.filter("id % 2 = 0")
    out2 = run_linkage(spark, work, persons_a=pa, persons_b=pb2)
    assert out2["pairs_fuzzy"].count() < n1

    m_b = json.loads((Path(work) / "prepare_b.manifest.json").read_text())
    assert m_b["input_fingerprints"]["persons_b"]["row_count"] == pb2.count()
    assert (Path(work) / "prepare_b.manifest.json").stat().st_mtime > mtime_b
    assert (Path(work) / "prepare_a.manifest.json").stat().st_mtime == mtime_a


def test_config_change_rebuilds_scoring(spark, tmp_path):
    """A scoring-config change invalidates pairs_fuzzy but not the
    prepare stages (per-stage config fingerprints, reference
    checkpoint.rs:4-15 pins algorithm in the token)."""
    a_pd, b_pd, _ = make_dirty(400)
    pa = spark.createDataFrame(a_pd)
    pb = spark.createDataFrame(b_pd)
    work = str(tmp_path / "wd5")
    run_linkage(spark, work, persons_a=pa, persons_b=pb)
    mtime_prep = (Path(work) / "prepare_a.manifest.json").stat().st_mtime
    mtime_pairs = (Path(work) / "pairs_fuzzy.manifest.json").stat().st_mtime

    cfg2 = LinkageConfig(max_block_rows=500)
    run_linkage(spark, work, persons_a=pa, persons_b=pb, config=cfg2)
    assert (Path(work) / "pairs_fuzzy.manifest.json").stat().st_mtime > mtime_pairs
    assert (Path(work) / "prepare_a.manifest.json").stat().st_mtime == mtime_prep


def test_torn_manifest_forces_recompute(spark, corpus, tmp_path):
    pages_a, pages_b = corpus
    work = str(tmp_path / "wd3")
    run_linkage(spark, work, pages_a=pages_a, pages_b=pages_b)
    # Corrupt a manifest (torn write simulation): stage must re-run.
    mp = Path(work) / "clusters.manifest.json"
    mp.write_text("{not json")
    from name_matcher_spark.sources.checkpoint import StageCheckpoint

    assert not StageCheckpoint(spark, work).is_complete("clusters")
    out = run_linkage(spark, work, pages_a=pages_a, pages_b=pages_b)
    assert json.loads(mp.read_text())["row_count"] == out["clusters"].count()


def test_content_digest_catches_value_edit(spark):
    """fingerprint_df must change when a row VALUE changes even though
    row count and schema are preserved (the count+schema-only
    fingerprint served stale checkpoints for such edits)."""
    from name_matcher_spark.sources.checkpoint import fingerprint_df

    a = spark.createDataFrame([(1, "x"), (2, "y")], "id long, v string")
    b = spark.createDataFrame([(1, "x"), (2, "z")], "id long, v string")
    fa, fb = fingerprint_df(a), fingerprint_df(b)
    assert fa["row_count"] == fb["row_count"] and fa["schema"] == fb["schema"]
    assert fa["content_digest"] != fb["content_digest"]
    # order-insensitive: same rows, different order -> same digest
    c = spark.createDataFrame([(2, "y"), (1, "x")], "id long, v string")
    assert fingerprint_df(c)["content_digest"] == fa["content_digest"]
    # even-multiplicity edit: a value shared by TWO duplicate rows
    # changes on both (X,X -> Y,Y). An xor-fold digest cancels this
    # (h^h == g^g == 0); the additive multiset digest must not.
    d = spark.createDataFrame([(1, "x"), (1, "x")], "id long, v string")
    e = spark.createDataFrame([(1, "y"), (1, "y")], "id long, v string")
    fd, fe = fingerprint_df(d), fingerprint_df(e)
    assert fd["row_count"] == fe["row_count"] and fd["schema"] == fe["schema"]
    assert fd["content_digest"] != fe["content_digest"]


def test_stage_chain_invalidates_on_content_edit(spark, tmp_path):
    """Derived (stage -> stage) fingerprints now carry the content
    digest: rebuilding an upstream stage with a changed VALUE (same
    count + schema) must invalidate the downstream stage."""
    from name_matcher_spark.sources.checkpoint import StageCheckpoint

    ck = StageCheckpoint(spark, str(tmp_path))
    a1 = spark.createDataFrame([(1, "x"), (2, "y")], "id long, v string")
    ck.write("up", a1)
    built = []
    ck.run_stage("down", lambda: (built.append(1), ck.read("up"))[1], inputs=["up"])
    assert built == [1]
    # unchanged upstream -> served from checkpoint
    ck.run_stage("down", lambda: (built.append(1), ck.read("up"))[1], inputs=["up"])
    assert built == [1]
    m = ck.manifest("up")
    assert isinstance(m["content_digest"], int)
    assert all("digest" in p for p in m["partitions"])
    # value edit, same count + schema -> downstream must rebuild
    a2 = spark.createDataFrame([(1, "x"), (2, "z")], "id long, v string")
    ck.write("up", a2)
    ck.run_stage("down", lambda: (built.append(1), ck.read("up"))[1], inputs=["up"])
    assert built == [1, 1]


def _cache_empty(spark) -> bool:
    """No entry in the CacheManager (the table of persist()ed plans).
    localCheckpoint adds none, so this is deterministic in a shared
    session once the test has cleared the cache itself."""
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.fixture()
def prepared(spark):
    from name_matcher_spark.operators.prepare import prepare_persons

    a_pd, b_pd, _ = make_dirty(200)
    spark.catalog.clearCache()
    return (
        prepare_persons(spark.createDataFrame(a_pd)),
        prepare_persons(spark.createDataFrame(b_pd)),
        a_pd,
        b_pd,
    )


def test_repeated_batch_calls_leave_no_cache_entries(spark, prepared, tmp_path):
    """Batch-caller cache hygiene: match_fuzzy materialized inside a
    cache_scope(), and repeated run_linkage calls, leave no cache entry
    behind — a long-lived batch session issuing many linkage calls
    would otherwise leak cache entries per call."""
    from name_matcher_spark.cache import cache_scope
    from name_matcher_spark.operators.fuzzy_join import match_fuzzy

    pa, pb, a_pd, b_pd = prepared
    for _ in range(3):
        with cache_scope():
            assert match_fuzzy(pa, pb, include_middle=False).count() > 0
            assert not _cache_empty(spark), "match_fuzzy should pin its tables"
        assert _cache_empty(spark)

    # run_linkage scopes its pairs_fuzzy stage; two full builds
    # (distinct work dirs) -> nothing left.
    cfg = LinkageConfig(stages=("pairs_fuzzy",))
    for d in ("wd1", "wd2"):
        run_linkage(
            spark, str(tmp_path / d),
            persons_a=spark.createDataFrame(a_pd),
            persons_b=spark.createDataFrame(b_pd),
            config=cfg,
        )
        assert _cache_empty(spark)


def test_cache_scope_releases_pins_when_the_block_raises(spark, prepared):
    """match_fuzzy pins its inputs before it validates ``blocking``.
    Outside a scope those pins stay (the caller owns them); inside one
    they are released even though the block exits by an exception."""
    from name_matcher_spark.cache import cache_scope
    from name_matcher_spark.operators.fuzzy_join import match_fuzzy

    pa, pb, _, _ = prepared
    with pytest.raises(ValueError, match="unknown blocking"):
        match_fuzzy(pa, pb, include_middle=False, blocking="nope")
    assert not _cache_empty(spark)
    spark.catalog.clearCache()

    with pytest.raises(ValueError, match="unknown blocking"):
        with cache_scope():
            match_fuzzy(pa, pb, include_middle=False, blocking="nope")
    assert _cache_empty(spark)


def test_cache_scope_leaves_caller_persisted_frames_alone(spark, prepared):
    from name_matcher_spark.cache import cache_scope
    from name_matcher_spark.operators.fuzzy_join import match_fuzzy

    pa, pb, _, _ = prepared
    pa = pa.persist()
    with cache_scope():
        assert match_fuzzy(pa, pb, include_middle=False).count() > 0
    assert pa.storageLevel.useMemory
    pa.unpersist()
    assert _cache_empty(spark)


def test_nested_cache_scope_releases_only_its_own_pins(spark, prepared):
    from name_matcher_spark.cache import cache_scope, pin

    pa, pb, _, _ = prepared
    with cache_scope():
        outer = pin(pa)
        with cache_scope():
            inner = pin(pb)
            # already pinned by the outer scope: not the inner one's
            assert pin(outer) is outer
        assert outer.storageLevel.useMemory
        assert not inner.storageLevel.useMemory
    assert _cache_empty(spark)
