"""Incremental entity resolution over an unbounded page stream.

The reference processes bounded chunks with resume checkpoints
(src/matching/mod.rs stream_match_csv*, SURVEY.md §2.9); the unbounded
Spark-native counterpart is: crawl pages arrive as files, each
micro-batch extracts entities, derives matching columns, and runs the
blocked fuzzy cascade against a static prepared reference corpus, with
matched pairs landing in a partitioned Parquet sink.

Delivery semantics: Structured Streaming's checkpoint makes the SOURCE
exactly-once, but a plain `append` inside foreachBatch duplicates rows
when a batch is retried after a partial write. The sink therefore
partitions by `batch_id` and rewrites only that partition (dynamic
partition overwrite) — replaying batch N is idempotent, the standard
idempotent-foreachBatch pattern.

Per-batch cost discipline: the reference corpus stays pinned across
batches; everything ELSE match_fuzzy pins for a batch (the batch's
prepared table, narrow key tables) belongs to the batch's
``cache_scope()`` and is unpersisted once the batch's writes finish or
fail — without this, cache entries accumulate one set per micro-batch
for the life of the job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cache import cache_scope, pin
from ..operators.extract import extract_entities
from ..operators.fuzzy_join import match_fuzzy
from ..operators.prepare import prepare_persons


def incremental_linkage(
    pages_stream: DataFrame,
    reference_prepared: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    include_middle: bool = False,
    max_block_rows: int | None = 10_000,
    available_now: bool = True,
    cluster_labels_dir: str | None = None,
    cluster_threshold: float = 0.95,
):
    """Start the streaming query: pages in, matched pairs out.

    ``reference_prepared`` must be the output of ``prepare_persons``
    (same ``include_middle``); it is persisted here once and probed by
    every micro-batch. Returns the StreamingQuery handle.

    ``cluster_labels_dir``: when set, each batch ALSO folds its pairs
    into the incremental cluster label store (streaming/clustering.py's
    apply_cluster_batch) inside the same foreachBatch — the long-lived
    (non-drain) deploy mode uses this, because its pairs sink is
    partition-appended and cannot double as a file-stream source that
    starts before the first batch exists. Both writes are idempotent,
    so a retried batch redoes both safely.
    """
    ref = pin(reference_prepared)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        with cache_scope():
            prepared = prepare_persons(
                extract_entities(batch_df).withColumnRenamed("url", "uuid"),
                include_middle,
            )
            pairs = match_fuzzy(
                prepared,
                ref,
                include_middle=include_middle,
                max_block_rows=max_block_rows,
            ).withColumn("batch_id", F.lit(batch_id))
            (
                pairs.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch_id")
                .parquet(output_dir)
            )
            if cluster_labels_dir is not None:
                from .clustering import apply_cluster_batch

                # Explicit schema: a dynamic-overwrite write of an EMPTY
                # partitioned DataFrame commits no data files, so on a
                # zero-match first batch the sink holds only _SUCCESS and
                # schema inference would throw UNABLE_TO_INFER_SCHEMA —
                # failing the batch and wedging the checkpoint on retry.
                apply_cluster_batch(
                    batch_df.sparkSession.read.schema(pairs.schema)
                    .parquet(output_dir)
                    .filter(F.col("batch_id") == batch_id),
                    cluster_labels_dir,
                    cluster_threshold,
                )

    writer = pages_stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    # else: default ASAP micro-batch trigger (long-lived mode) — the
    # trigger API rejects availableNow=False explicitly.
    return writer.start()
