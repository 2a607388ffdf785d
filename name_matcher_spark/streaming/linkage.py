"""Incremental entity resolution over an unbounded page stream.

The reference processes bounded chunks with resume checkpoints
(src/matching/mod.rs stream_match_csv*, SURVEY.md §2.9); the unbounded
Spark-native counterpart is: crawl pages arrive as files, each
micro-batch extracts entities, derives matching columns, and runs the
blocked fuzzy cascade against a static prepared reference corpus, with
matched pairs landing in a partitioned Parquet sink.

Delivery and scope: the query starts through ``streaming.batches``. Each
micro-batch writes its pairs with the idempotent batch sink (partition
``batch_id``, dynamic overwrite), so replaying batch N is safe, and
runs inside its own ``cache_scope()``: the reference corpus stays
pinned across batches, while everything ELSE match_fuzzy pins for a
batch (the batch's prepared table, narrow key tables) is released when
the batch finishes or fails.

The batch body calls ``extract_entities``, ``prepare_persons``,
``match_fuzzy`` and ``clustering.apply_cluster_batch`` through this
module's and the clustering module's namespaces at batch time, so a
tracer that patches those names sees every micro-batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cache import pin
from ..operators.extract import extract_entities
from ..operators.fuzzy_join import match_fuzzy
from ..operators.prepare import prepare_persons
from . import clustering
from .batches import read_batches, start_batches, write_batch


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

    ``available_now``: True drains the files present at start and
    stops; False keeps the query running, a batch per new arrival.

    ``cluster_labels_dir``: when set, each batch ALSO folds its pairs
    into the incremental cluster label store
    (``clustering.apply_cluster_batch``) inside the same foreachBatch,
    so one query keeps both the pairs sink and the label store current
    in drain and long-lived mode alike. Both writes are idempotent, so
    a retried batch redoes both safely.
    """
    ref = pin(reference_prepared)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        prepared = prepare_persons(
            extract_entities(batch_df).withColumnRenamed("url", "uuid"),
            include_middle,
        )
        pairs = match_fuzzy(
            prepared,
            ref,
            include_middle=include_middle,
            max_block_rows=max_block_rows,
        )
        write_batch(pairs, output_dir, batch_id)
        if cluster_labels_dir is not None:
            clustering.apply_cluster_batch(
                read_batches(batch_df.sparkSession, output_dir, pairs.schema)
                .filter(F.col("batch_id") == batch_id),
                cluster_labels_dir,
                cluster_threshold,
            )

    return start_batches(pages_stream, process, checkpoint_dir, available_now)
