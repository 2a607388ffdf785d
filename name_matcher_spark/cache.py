"""One owner for persisted DataFrames.

``pin(df)`` persists a DataFrame that is reused within a plan (the
prepared tables, narrow key tables, dedup tier boundaries) and hands it
to the innermost open ``cache_scope()`` on this thread. The scope
unpersists everything pinned inside it on exit, exceptions included,
so a caller wraps the block that MATERIALIZES the result (a checkpoint
write, a micro-batch's sink write, a collect) and nothing outlives it.

Outside any scope a pin simply persists, and the caller owns the entry
(``spark.catalog.clearCache()`` or session end releases it).
"""

from __future__ import annotations

import contextvars
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

_scopes: contextvars.ContextVar[tuple[list[DataFrame], ...]] = (
    contextvars.ContextVar("nms_cache_scopes", default=())
)


def pin(df: DataFrame) -> DataFrame:
    """Persist ``df`` unless it already is; register it with the
    innermost open scope. A DataFrame the caller persisted is returned
    as is and never released here."""
    lvl = df.storageLevel
    if lvl.useMemory or lvl.useDisk:
        return df
    df = df.persist(StorageLevel.MEMORY_AND_DISK_DESER)
    scopes = _scopes.get()
    if scopes:
        scopes[-1].append(df)
    return df


@contextmanager
def cache_scope() -> Iterator[None]:
    """Unpersist, on exit, every DataFrame pinned inside the block."""
    pinned: list[DataFrame] = []
    token = _scopes.set(_scopes.get() + (pinned,))
    try:
        yield
    finally:
        _scopes.reset(token)
        for df in pinned:
            df.unpersist()
