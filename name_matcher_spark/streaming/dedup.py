"""Incremental near-duplicate detection over an unbounded document
stream — "is this new crawl page a near-dup of anything we've ever
seen?", the standing question of a training-data ingest pipeline.

Each micro-batch: compute the batch's MinHash band buckets, equi-join
them against the ACCUMULATED bucket store (every doc seen so far) for
new-vs-corpus candidates, self-join within the batch for new-vs-new,
then append the batch's buckets to the store. The invariant (tested):
the union of pairs emitted across all batches equals what the batch
operator `minhash_lsh_candidates` produces on the full corpus —
incremental processing changes WHEN a pair is found (when its second
member arrives), never WHETHER.

Both operators start through ``streaming.batches``: drain mode with
``available_now=True``, a long-lived query with False. The pair sink,
the bucket store and the line store are all written with its
idempotent batch sink (partition ``batch_id``, dynamic overwrite), so
a retried batch rewrites its own partitions instead of duplicating
rows.

Scale posture: the store grows with the corpus but the per-batch join
is a hash equi-join on (band, key) — the batch side is small, AQE
broadcasts it, and the store scan is columnar. At crawl scale the
store would be bucketed/Z-ordered by (band, key) so the join prunes;
the contract here is identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cache import pin
from ..operators.dedup import band_buckets, cap_buckets
from .batches import path_exists, read_batches, start_batches, write_batch


def incremental_dedup(
    docs_stream: DataFrame,
    store_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    num_hashes: int = 8,
    bands: int = 4,
    available_now: bool = True,
    hash_fn: str = "xxhash64",
    max_bucket_size: int | None = None,
):
    """Start the streaming query. Emits (id_a, id_b, batch_id) pairs
    with id_a < id_b; returns the StreamingQuery handle.

    ``max_bucket_size`` is the degenerate-bucket skew guard (see
    minhash_lsh_candidates): applied per side — batch buckets larger
    than the cap are dropped before both joins, and STORE buckets
    whose accumulated membership exceeds the cap are dropped from the
    cross join (the boilerplate bucket that grew for thousands of
    batches is exactly the one that would turn every future batch
    quadratic). None (default) keeps the exact batch-parity
    semantics the invariant test asserts."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        buckets = pin(
            band_buckets(batch_df, id_col, text_col, k, num_hashes, bands, hash_fn)
        )
        joinable = cap_buckets(buckets, max_bucket_size)
        new = joinable.select(F.col(id_col).alias("id_b"), "band", "key")
        # new-vs-new inside the batch
        pairs = (
            joinable.select(F.col(id_col).alias("id_a"), "band", "key")
            .join(new, ["band", "key"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
        )
        # Missing store == first batch, checked explicitly: any OTHER
        # read failure (corrupt parquet, transient IO) must fail the
        # batch so the checkpoint retries, instead of silently dropping
        # every accumulated bucket.
        if path_exists(spark, store_dir):
            store = cap_buckets(
                read_batches(spark, store_dir, buckets.schema).filter(
                    F.col("batch_id") < batch_id
                ),
                max_bucket_size,
            )
            cross_pairs = (
                store.select(F.col(id_col).alias("id_a"), "band", "key")
                .join(new, ["band", "key"])
                .filter(F.col("id_a") != F.col("id_b"))
                .select(
                    F.least("id_a", "id_b").alias("id_a"),
                    F.greatest("id_a", "id_b").alias("id_b"),
                )
            )
            pairs = pairs.unionByName(cross_pairs)
        write_batch(pairs.distinct(), output_dir, batch_id)
        write_batch(buckets, store_dir, batch_id)

    return start_batches(docs_stream, process, checkpoint_dir, available_now)


def incremental_line_store(
    docs_stream: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "xxhash64",
    available_now: bool = True,
):
    """Maintain the cross-document line-frequency store incrementally —
    the streaming half of `operators.dedup.line_dedup` (CCNet
    boilerplate removal).

    Boilerplate is a GLOBAL property (a line becomes boilerplate only
    when its min_docs-th document arrives), so an unbounded stream
    cannot emit final clean text per batch without rewriting history.
    The honest streaming contract is therefore: accumulate per-batch
    (line hash, distinct-doc count) partitions here, and apply the
    threshold at READ time with `clean_with_line_store` — cleaning any
    document set against the store-so-far. The invariant (tested):
    after draining the stream, the aggregated store equals the batch
    frequency table, and store-based cleaning is byte-identical to
    batch `line_dedup` on the full corpus.

    Assumes doc ids are unique across the stream (same contract as the
    MinHash bucket store above); a retried batch overwrites its own
    partition, so counts never double.
    """
    from ..operators.dedup import exploded_lines

    def process(batch_df: DataFrame, batch_id: int) -> None:
        write_batch(
            exploded_lines(batch_df, id_col, text_col, hash_fn)
            .groupBy("k")
            .agg(F.countDistinct(id_col).alias("nd")),
            store_dir,
            batch_id,
        )

    return start_batches(docs_stream, process, checkpoint_dir, available_now)


def clean_with_line_store(
    docs: DataFrame,
    store_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 2,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Apply the accumulated line store to a document set: identical
    output schema and semantics to `line_dedup`, with the boilerplate
    set coming from every batch seen so far instead of from `docs`
    itself. One aggregation over the store (SUM of per-batch
    distinct-doc counts — valid because doc ids never repeat across
    batches) feeding the batch operator's own anti-join/regroup plan
    via its ``boilerplate`` hook."""
    from ..operators.dedup import line_dedup

    spark = docs.sparkSession
    boiler = (
        spark.read.parquet(store_dir)
        .groupBy("k")
        .agg(F.sum("nd").alias("nd"))
        .where(F.col("nd") >= min_docs)
        .select("k")
    )
    return line_dedup(
        docs, id_col, text_col, hash_fn=hash_fn, boilerplate=boiler
    )
