"""The micro-batch runner every ``foreachBatch`` operator starts through.

The streaming operators (linkage, clusters, dedup, line store) differ
only in what a batch does; how a batch is started, scoped and written
is decided here once:

* **Start.** ``foreachBatch`` plus a ``checkpointLocation``, so the
  source is exactly-once across restarts. Drain mode
  (``available_now=True``) triggers ``availableNow`` and the query
  stops when the input present at start is consumed; long-lived mode
  makes no trigger call, i.e. the default processing-time trigger runs
  batches as files arrive. ``trigger(availableNow=False)`` is not the
  long-lived mode: PySpark rejects it with ``VALUE_NOT_TRUE``.
* **Scope.** An empty batch is skipped; every other batch runs inside
  ``cache_scope()``, so what it pins is released when it finishes or
  fails instead of accumulating one set per micro-batch.
* **Sink.** ``write_batch`` adds a ``batch_id`` column and rewrites
  only that partition (dynamic partition overwrite). A plain append
  inside ``foreachBatch`` would duplicate rows when a batch is retried
  after a partial write; this way replaying batch N is idempotent.
* **Existence.** ``path_exists`` asks the Hadoop FileSystem of the
  path's own scheme. A driver-local ``os.path.exists`` is always False
  for a remote URI (s3://, hdfs://).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import LongType, StructField, StructType

from ..cache import cache_scope


def start_batches(
    stream: DataFrame,
    process: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    available_now: bool,
) -> StreamingQuery:
    """Start ``process(batch_df, batch_id)`` over ``stream``; returns
    the StreamingQuery handle."""

    def run(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        with cache_scope():
            process(batch_df, batch_id)

    writer = stream.writeStream.foreachBatch(run).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def overwrite_partitions(df: DataFrame, path: str, column: str) -> None:
    """Write ``df`` as parquet partitioned by ``column``, replacing only
    the partitions present in ``df``; every other partition survives."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(column)
        .parquet(path)
    )


def write_batch(df: DataFrame, path: str, batch_id: int) -> None:
    """The idempotent batch sink: ``df`` lands in partition
    ``batch_id=<batch_id>`` of ``path``, replacing whatever an earlier
    attempt of the same batch wrote there."""
    overwrite_partitions(df.withColumn("batch_id", F.lit(batch_id)), path, "batch_id")


def read_batches(spark, path: str, schema: StructType) -> DataFrame:
    """Read a batch sink written by ``write_batch`` from rows of
    ``schema``. The schema is explicit: a write of an empty batch
    commits no data file, and inference over a sink holding only
    ``_SUCCESS`` raises UNABLE_TO_INFER_SCHEMA, which would fail the
    batch on every retry."""
    # A fresh StructType: StructType.add mutates in place, and a
    # DataFrame caches its schema object.
    full = StructType(list(schema.fields) + [StructField("batch_id", LongType())])
    return spark.read.schema(full).parquet(path)


def path_exists(spark, path: str) -> bool:
    """Whether ``path`` exists, through the Hadoop FileSystem of its own
    scheme."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()).exists(p)
