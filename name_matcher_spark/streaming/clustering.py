"""Incremental transitive clustering over a stream of match pairs.

As new pages are crawled and matched (streaming/linkage.py), entity
clusters must absorb the new pairs WITHOUT recomputing components over
every edge ever seen. The trick: the maintained label store
(node -> cluster_id, cluster_id = min member node) is itself a
spanning star of each component, so per batch it suffices to run
connected components over (star edges from the store) ∪ (the batch's
new edges) — a graph bounded by #nodes + #batch-edges, not by the
total edge history. A wave that bridges two old clusters relabels BOTH
to the joint minimum, exactly as a from-scratch batch run would.

Idempotence: min-label components are absorbing — re-applying a batch
to an already-merged store is a no-op — so a retried batch rewrites
the same store. The store is replaced atomically per batch
(write-new + rename) rather than partition-appended, because labels
are global state, not an append log.

The parity invariant (tested + oracle-checked): after draining, the
store equals `cluster_pairs` run on the union of all pairs.
"""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.clustering import (
    connected_components,
    decode_components,
    encode_edges,
)
from .batches import start_batches


@contextlib.contextmanager
def _store_lock(store_dir: str):
    """Advisory lock serializing the replace protocol against
    concurrent recovery. In long-lived mode ``read_clusters`` runs
    while the writer is mid-replace; without the lock a reader's
    recover_store can restore ``.old`` back between the writer's two
    renames, making the writer's final rename fail ENOTEMPTY. flock on
    a sibling lock file (the store dir itself is renamed, so it can't
    host the lock) makes recover/replace mutually exclusive. Single
    host by design — the label store lives on driver-local disk."""
    import fcntl

    os.makedirs(os.path.dirname(os.path.abspath(store_dir)) or ".", exist_ok=True)
    fd = os.open(f"{store_dir}.lock", os.O_CREAT | os.O_RDWR, 0o644)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX)
        yield
    finally:
        fcntl.flock(fd, fcntl.LOCK_UN)
        os.close(fd)


def recover_store(store_dir: str) -> None:
    """Crash recovery for the rename-pair replace protocol: if a crash
    landed between ``rename(store, store.old)`` and
    ``rename(store.next, store)``, the last complete store survives as
    ``.old`` — restore it. Idempotent; safe to call before every read
    (takes the store lock, so it never races a mid-replace writer)."""
    with _store_lock(store_dir):
        _recover_store_locked(store_dir)


def _recover_store_locked(store_dir: str) -> None:
    old = f"{store_dir}.old"
    if not os.path.exists(store_dir) and os.path.exists(old):
        os.rename(old, store_dir)


def apply_cluster_batch(
    pairs_df: DataFrame, labels_dir: str, threshold: float = 0.95
) -> None:
    """One wave of the incremental-clustering merge: fold a batch of
    (id_1, id_2, confidence) pairs into the label store at
    ``labels_dir``. Idempotent (min-label components are absorbing), so
    both ``incremental_clusters`` and ``incremental_linkage`` (which
    folds each batch's pairs in when given ``cluster_labels_dir``) can
    retry it safely.

    Poison records: encode_edges FAILS the batch on a null or
    out-of-range id (deliberate — silently dropping an edge corrupts
    the accumulated store forever, while a deterministic batch failure
    is diagnosable and resumable). The engine's own pipelines never
    emit such ids; a feed that can must filter them before the sink,
    because a poison row wedges the checkpoint on retry by design."""
    if pairs_df.isEmpty():
        return
    spark = pairs_df.sparkSession
    recover_store(labels_dir)
    new_edges = encode_edges(pairs_df, threshold)
    tmp = f"{labels_dir}.next"
    # Missing store == first batch, checked EXPLICITLY: any other
    # read failure (corrupt parquet, transient IO) must fail the
    # batch so the checkpoint retries — swallowing it would silently
    # rebuild the store from this batch alone, discarding all
    # accumulated cluster state.
    if os.path.exists(labels_dir):
        star = spark.read.parquet(labels_dir).select(
            F.col("node").alias("src"), F.col("cluster_id").alias("dst")
        )
        edges = new_edges.unionByName(star)
    else:
        edges = new_edges
    comp = connected_components(edges)
    comp.write.mode("overwrite").parquet(tmp)
    # Atomic replace: a reader (or a retry) sees either the old or
    # the new complete store, never a half-written one. A crash
    # between the two renames leaves only .old — recover_store
    # restores it on the next batch (and read_clusters at startup).
    # The store lock keeps a concurrent reader's recovery from
    # resurrecting .old between the two renames.
    import shutil

    with _store_lock(labels_dir):
        old = f"{labels_dir}.old"
        if os.path.exists(labels_dir):
            if os.path.exists(old):
                shutil.rmtree(old)
            os.rename(labels_dir, old)
        os.rename(tmp, labels_dir)
        if os.path.exists(old):
            shutil.rmtree(old)


def incremental_clusters(
    pairs_stream: DataFrame,
    labels_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.95,
    available_now: bool = True,
):
    """Start the streaming query. ``pairs_stream`` rows carry
    (id_1, id_2, confidence); the store at ``labels_dir`` holds
    (node, cluster_id) in the same encoded namespace as
    ``cluster_pairs`` (table-A ids -> 2*id, table-B -> 2*id+1).
    Returns the StreamingQuery handle."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        apply_cluster_batch(batch_df, labels_dir, threshold)

    return start_batches(pairs_stream, process, checkpoint_dir, available_now)


def read_clusters(spark, labels_dir: str) -> DataFrame:
    """Decode the store back to the (side, id, cluster_id) contract of
    ``cluster_pairs``.

    The parquet scan is MATERIALIZED (localCheckpoint) while the store
    lock is held: a lazy scan returned to the caller would read the
    files after the lock is released, and a concurrent writer's
    rename + rmtree of the superseded store could delete them under
    the in-flight job (a loud failure, not corruption — but the lock
    exists to rule it out). The returned DataFrame is therefore
    self-contained: it never touches ``labels_dir`` again."""
    with _store_lock(labels_dir):
        _recover_store_locked(labels_dir)
        snapshot = spark.read.parquet(labels_dir).localCheckpoint(eager=True)
    return decode_components(snapshot)
