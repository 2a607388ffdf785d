"""Partition strategies — the reference's shard predicates as columns.

The reference splits work into sequential shards with SQL predicates
(src/util/partition.rs): 26 last-initial shards + an "other" bucket,
or 5-year birth ranges 1900-2030. In Spark a "partition strategy" is
just a column the shuffle hashes on — no query loop — but the SAME
keys matter for (a) writing partitioned output a resumable run can
skip per-partition, and (b) per-partition lineage in manifests.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..streaming.batches import overwrite_partitions


def last_initial_key(last_name: Column) -> Column:
    """A-Z shard of the (normalized) last name; non-alpha -> 'other'
    (partition.rs:18-39)."""
    initial = F.upper(F.substring(F.trim(last_name), 1, 1))
    return F.when(initial.rlike("^[A-Z]$"), initial).otherwise(F.lit("other"))


def birthyear5_key(birthdate: Column) -> Column:
    """5-year birth buckets, '1950_1954' style (partition.rs:48-65);
    null birthdate -> 'unknown'."""
    year = F.year(birthdate)
    lo = (F.floor(year / 5) * 5).cast("int")
    return F.when(
        birthdate.isNull(), F.lit("unknown")
    ).otherwise(F.concat_ws("_", lo.cast("string"), (lo + 4).cast("string")))


def with_partition_key(
    df: DataFrame, strategy: str = "last_initial", col_name: str = "part_key"
) -> DataFrame:
    if strategy == "last_initial":
        key = last_initial_key(F.col("norm_last") if "norm_last" in df.columns else F.col("last_name"))
    elif strategy == "birthyear5":
        key = birthyear5_key(F.col("birthdate"))
    else:
        raise ValueError(f"unknown strategy: {strategy}")
    return df.withColumn(col_name, key)


def write_partitioned(df: DataFrame, path: str, strategy: str = "last_initial") -> None:
    """Partition-pruned output layout with DYNAMIC partition overwrite:
    the write replaces only the part_key shards present in ``df``. A
    resumable re-run therefore filters ``df`` to its missing shards and
    calls this again — completed shards survive. (Static overwrite —
    the Spark default — would wipe the whole path first, making
    per-shard resume impossible.)"""
    overwrite_partitions(with_partition_key(df, strategy), path, "part_key")


def salted_repartition(
    df: DataFrame,
    key_col: str,
    salt_buckets: int,
    salt_col: str = "_salt",
    discriminator_cols: list[str] | None = None,
) -> DataFrame:
    """Hot-key defusal for a skewed shuffle (north rule: "salted
    repartitioning to defuse hot keys").

    Appends a deterministic salt in [0, salt_buckets) — a hash of the
    whole row's key columns plus a per-row discriminator if present —
    and repartitions on (key, salt), so one giant key spreads over
    ``salt_buckets`` tasks instead of one straggler. Deterministic
    (xxhash64 of the row contents, no rand()) so re-runs produce the
    same physical placement and checkpoint lineage stays stable.

    Use for skewed AGGREGATIONS (partial-agg per salt then final
    merge) or skewed WRITES; for skewed JOINS prefer the block-key
    refinement in fuzzy_join (extends the key semantically) or AQE
    skew-join splitting — salting a join key requires exploding the
    other side by salt_buckets, which this helper deliberately does
    not hide.

    LIMIT of content-derived salt: byte-identical duplicate rows all
    hash to ONE salt value, so a hot key made of exact duplicates
    still lands in one task. Pass ``discriminator_cols`` naming a
    row-unique column (an id, a file offset) when the input can carry
    duplicates — determinism is preserved and the pileup actually
    spreads. (A random/rowid salt would spread it too, but breaks the
    stable-placement property checkpoint lineage relies on.)"""
    hash_cols = discriminator_cols or df.columns
    salt = F.pmod(
        F.xxhash64(*[F.col(c) for c in hash_cols]), F.lit(salt_buckets)
    )
    out = df.withColumn(salt_col, salt.cast("int"))
    return out.repartition(F.col(key_col), F.col(salt_col))


def salted_count(
    df: DataFrame, key_col: str, salt_buckets: int = 32
) -> DataFrame:
    """Two-phase salted aggregation, demonstrated on count. NOTE: for
    plain count specifically, Spark's map-side partial aggregation
    already reduces each hot key to one row per input partition before
    the shuffle — ``groupBy(key).count()`` is never skewed and is
    CHEAPER than this (salting first forces a full raw-row exchange).
    The two-phase pattern earns its cost only for aggregates WITHOUT a
    map-side combine — exact distinct counts, collect_set-style
    accumulations — where phase 1 genuinely caps the heaviest key at
    1/salt_buckets per task; use this as the template for those."""
    salted = salted_repartition(df, key_col, salt_buckets)
    partial = salted.groupBy(key_col, "_salt").count()
    return partial.groupBy(key_col).agg(F.sum("count").alias("count"))
