"""Incremental streaming dedup: pairs emitted across micro-batches
must equal the batch LSH candidate set over the full corpus, and a
checkpointed restart picks up only new files."""

from __future__ import annotations

from pyspark.sql import functions as F

from name_matcher_spark.operators.dedup import minhash_lsh_candidates
from name_matcher_spark.streaming.dedup import incremental_dedup

SF_DIR = "/root/testdata/sf0.001"


def test_incremental_dedup_matches_batch(spark, tmp_path):
    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "text")
    )
    src, store, out, ck = (
        str(tmp_path / d) for d in ("src", "store", "out", "ck")
    )

    wave1 = docs.filter(F.col("doc_id") % 2 == 0)
    wave2 = docs.exceptAll(wave1)
    wave1.write.parquet(src)

    def drain():
        q = incremental_dedup(
            spark.readStream.schema(docs.schema).parquet(src),
            store, out, ck,
        )
        q.awaitTermination()

    drain()
    n1 = spark.read.parquet(out).count()

    wave2.write.mode("append").parquet(src)
    drain()

    got = spark.read.parquet(out).select("id_a", "id_b")
    assert spark.read.parquet(out).select("batch_id").distinct().count() >= 2
    assert got.count() > n1 > 0

    expected = minhash_lsh_candidates(docs)
    diff = (
        got.exceptAll(expected).count() + expected.exceptAll(got).count()
    )
    assert diff == 0 and expected.count() > 0

    # Re-drain with no new input: nothing changes (exactly-once source).
    before = got.count()
    drain()
    assert spark.read.parquet(out).count() == before


def test_incremental_dedup_bucket_cap(spark, tmp_path):
    """max_bucket_size drops the degenerate boilerplate bucket on both
    the batch side and the accumulated-store side, while small-bucket
    pairs keep flowing across batches."""
    boiler = [(i, "cookie banner accept all cookies to continue") for i in range(20)]
    pair_a = [(100, "completely distinctive article about alpine marmots")]
    pair_b = [(101, "completely distinctive article about alpine marmoty")]
    schema = "doc_id long, text string"
    src, store, out, ck = (
        str(tmp_path / d) for d in ("src", "store", "out", "ck")
    )

    def drain():
        q = incremental_dedup(
            spark.readStream.schema("doc_id long, text string").parquet(src),
            store, out, ck, max_bucket_size=5,
        )
        q.awaitTermination()

    # wave 1: half the boilerplate + one article
    spark.createDataFrame(boiler[:10] + pair_a, schema).write.parquet(src)
    drain()
    # wave 2: the rest of the boilerplate (store side now holds the
    # degenerate bucket) + the near-dup article
    spark.createDataFrame(boiler[10:] + pair_b, schema).write.mode(
        "append"
    ).parquet(src)
    drain()

    got = {
        (r.id_a, r.id_b)
        for r in spark.read.parquet(out).select("id_a", "id_b").collect()
    }
    assert (100, 101) in got          # cross-batch pair survives the cap
    assert not any(b < 100 for _, b in got)  # no boilerplate pairs at all


def test_incremental_line_store_matches_batch(spark, tmp_path):
    """Streamed line-frequency store == batch frequency table, and
    store-based cleaning is byte-identical to batch line_dedup on the
    full corpus (the streaming boilerplate contract: the store
    accumulates, the threshold applies at read time)."""
    from name_matcher_spark.operators.dedup import line_dedup
    from name_matcher_spark.streaming.dedup import (
        clean_with_line_store,
        incremental_line_store,
    )

    base = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "text")
        .limit(60)
    )
    extra = spark.createDataFrame(
        [
            (800001, "unique gamma\nShared Footer Line\nmore gamma"),
            (800002, "unique delta\nShared Footer Line"),
            (800003, "Shared Footer Line\nepsilon text"),
        ],
        "doc_id long, text string",
    )
    docs = base.unionByName(extra)
    src, store, ck = (str(tmp_path / d) for d in ("src", "store", "ck"))

    wave1 = docs.filter(F.col("doc_id") % 2 == 0)
    wave2 = docs.exceptAll(wave1)
    wave1.write.parquet(src)

    def drain():
        q = incremental_line_store(
            spark.readStream.schema(docs.schema).parquet(src), store, ck
        )
        q.awaitTermination()

    drain()
    # Mid-stream: the store-so-far only knows wave1 boilerplate; the
    # shared footer needs its second doc to cross min_docs=2. Footer
    # docs 800001/800003 are both odd -> still intact after wave1.
    mid = {
        r.doc_id: r
        for r in clean_with_line_store(extra, store).collect()
    }
    assert mid[800001].n_lines_dropped == 0

    wave2.write.mode("append").parquet(src)
    drain()

    # Store parity: summed per-batch counts == batch frequency table.
    from name_matcher_spark.operators.dedup import exploded_lines

    got_freq = (
        spark.read.parquet(store).groupBy("k").agg(F.sum("nd").alias("nd"))
    )
    exp_freq = (
        exploded_lines(docs, "doc_id", "text", "xxhash64")
        .groupBy("k")
        .agg(F.countDistinct("doc_id").alias("nd"))
    )
    assert got_freq.exceptAll(exp_freq).count() == 0
    assert exp_freq.exceptAll(got_freq).count() == 0

    # Cleaning parity: store-based == batch operator, byte-identical.
    got = clean_with_line_store(docs, store)
    exp = line_dedup(docs, min_docs=2)
    assert got.exceptAll(exp).count() == 0
    assert exp.exceptAll(got).count() == 0
    final = {r.doc_id: r for r in got.collect()}
    assert final[800001].clean_text == "unique gamma\nmore gamma"
    assert final[800003].n_lines_dropped == 1


def _commit_and_stop(q) -> None:
    """Let a long-lived (no trigger) query commit what has arrived,
    check it is still running, and stop it."""
    try:
        q.processAllAvailable()
        assert q.isActive and q.lastProgress is not None
    finally:
        q.stop()


def test_incremental_dedup_long_lived_starts(spark, tmp_path):
    """available_now=False is the long-lived mode: the query starts
    with no trigger call (trigger(availableNow=False) raises
    VALUE_NOT_TRUE), commits a batch and keeps running until stopped."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    src, store, out, ck = (str(tmp_path / d) for d in ("src", "store", "out", "ck"))
    docs.write.parquet(src)
    q = incremental_dedup(
        spark.readStream.schema(docs.schema).parquet(src),
        store, out, ck, available_now=False,
    )
    _commit_and_stop(q)
    assert spark.read.parquet(out).count() > 0
    assert spark.read.parquet(store).count() > 0


def test_incremental_line_store_long_lived_starts(spark, tmp_path):
    from name_matcher_spark.streaming.dedup import incremental_line_store

    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "text")
        .limit(60)
    )
    src, store, ck = (str(tmp_path / d) for d in ("src", "store", "ck"))
    docs.write.parquet(src)
    q = incremental_line_store(
        spark.readStream.schema(docs.schema).parquet(src),
        store, ck, available_now=False,
    )
    _commit_and_stop(q)
    assert spark.read.parquet(store).count() > 0
