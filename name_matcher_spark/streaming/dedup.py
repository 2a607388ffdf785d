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

Idempotence: both the pair sink and the bucket store partition by
`batch_id` with dynamic partition overwrite, so a retried batch
rewrites its own partitions instead of duplicating rows (same pattern
as streaming/linkage.py).

Scale posture: the store grows with the corpus but the per-batch join
is a hash equi-join on (band, key) — the batch side is small, AQE
broadcasts it, and the store scan is columnar. At crawl scale the
store would be bucketed/Z-ordered by (band, key) so the join prunes;
the contract here is identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cache import cache_scope, pin
from ..operators.dedup import band_buckets


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
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession

        def cap_small(df: DataFrame) -> DataFrame:
            # Degenerate-bucket guard, shared by the batch and store
            # sides so the cap semantics cannot silently diverge.
            if max_bucket_size is None:
                return df
            small = (
                df.groupBy("band", "key")
                .agg(F.count("*").alias("_n"))
                .filter(F.col("_n") <= max_bucket_size)
                .select("band", "key")
            )
            return df.join(small, ["band", "key"], "leftsemi")

        with cache_scope():
            buckets = pin(
                band_buckets(
                    batch_df, id_col, text_col, k, num_hashes, bands, hash_fn
                )
            )
            joinable = cap_small(buckets)
            new = joinable.select(
                F.col(id_col).alias("id_b"), "band", "key"
            )
            # new-vs-new inside the batch
            self_pairs = (
                joinable.select(F.col(id_col).alias("id_a"), "band", "key")
                .join(new, ["band", "key"])
                .filter(F.col("id_a") < F.col("id_b"))
                .select("id_a", "id_b")
            )
            # Missing store == first batch, checked explicitly: any
            # OTHER read failure (corrupt parquet, transient IO) must
            # fail the batch so the checkpoint retries, instead of
            # silently dropping every accumulated bucket. The check goes
            # through the Hadoop FileSystem for store_dir's OWN scheme —
            # a driver-local os.path.exists is always False for a remote
            # store URI (s3://, hdfs://), which would silently disable
            # cross-batch dedup for the engine's stated deploy target.
            jvm = spark._jvm
            store_path = jvm.org.apache.hadoop.fs.Path(store_dir)
            store_fs = store_path.getFileSystem(
                spark._jsc.hadoopConfiguration()
            )
            if store_fs.exists(store_path):
                # Explicit schema (buckets + the batch_id partition
                # column): a crashed partial first write can leave the
                # dir existing with zero committed data files, and
                # schema inference would then wedge every retry with
                # UNABLE_TO_INFER_SCHEMA (same hazard as the linkage
                # sink read-back).
                from pyspark.sql.types import LongType, StructField, StructType

                # fresh StructType: DataFrame.schema is cached on the
                # DataFrame object and StructType.add mutates in place —
                # buckets.schema.add(...) would quietly grow a phantom
                # batch_id column onto buckets' own cached schema
                store_schema = StructType(
                    list(buckets.schema.fields)
                    + [StructField("batch_id", LongType())]
                )
                store = cap_small(
                    spark.read.schema(store_schema)
                    .parquet(store_dir)
                    .filter(F.col("batch_id") < batch_id)
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
                pairs = self_pairs.unionByName(cross_pairs)
            else:
                pairs = self_pairs
            (
                pairs.distinct()
                .withColumn("batch_id", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch_id")
                .parquet(output_dir)
            )
            (
                buckets.withColumn("batch_id", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch_id")
                .parquet(store_dir)
            )

    return (
        docs_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=available_now)
        .start()
    )


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
        if batch_df.isEmpty():
            return
        (
            exploded_lines(batch_df, id_col, text_col, hash_fn)
            .groupBy("k")
            .agg(F.countDistinct(id_col).alias("nd"))
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(store_dir)
        )

    return (
        docs_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=available_now)
        .start()
    )


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
