"""The shared micro-batch sink: replaying a batch is idempotent."""

from __future__ import annotations

from name_matcher_spark.streaming.batches import path_exists, write_batch


def test_write_batch_replay_replaces_only_its_partition(spark, tmp_path):
    """A retried batch N with different rows leaves only the retry's
    rows in partition N; every other batch's partition is untouched."""
    sink = str(tmp_path / "sink")
    schema = "id long, v string"
    assert not path_exists(spark, sink)
    write_batch(spark.createDataFrame([(1, "a"), (2, "b")], schema), sink, 3)
    write_batch(spark.createDataFrame([(7, "keep")], schema), sink, 4)
    write_batch(spark.createDataFrame([(9, "retry")], schema), sink, 3)
    assert path_exists(spark, sink)

    rows = {
        (r.batch_id, r.id, r.v) for r in spark.read.parquet(sink).collect()
    }
    assert rows == {(3, 9, "retry"), (4, 7, "keep")}
