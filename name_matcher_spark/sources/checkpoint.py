"""Stage-level checkpointing with per-partition lineage manifests.

The reference checkpoints (partition_idx, offset) into an atomic
key/value file so a killed run resumes mid-scan (src/util/
checkpoint.rs:66-86, mod.rs:3490-3504). The Spark-native equivalent is
coarser and stronger: each pipeline STAGE materializes to a Parquet
directory plus a JSON manifest recording row counts, schema, per-
partition row counts, and stage-specific metrics (e.g. the score
histogram required by the north rule). Resume = skip any stage whose
manifest validates; a torn write can't be mistaken for a finished
stage because the manifest is written only after the Parquet commit,
via atomic tmp+rename (same trick as checkpoint.rs:74-82).

On a real deployment the Parquet directory would be an Iceberg table
and the manifest its snapshot metadata; the layout here keeps the same
contract with plain files so it runs anywhere.
"""

from __future__ import annotations

import json
import os
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def fingerprint_df(df: DataFrame) -> dict:
    """Content fingerprint of an external input.

    Row count, schema and an order-insensitive content digest — an
    additive multiset hash, SUM of xxhash64 over every column carried
    in decimal(38,0) — so edited rows or reordered sources invalidate
    the checkpoint even when row count and schema are preserved. An
    additive (sum) fold is used deliberately instead of bit_xor: xor
    cancels identical rows with even multiplicity (editing a value
    shared by two duplicate rows X,X -> Y,Y keeps an xor digest
    unchanged), and duplicate rows are routine in this dedup-centric
    domain; a sum tracks multiplicity exactly. The decimal(38,0)
    carrier is ANSI-overflow-safe: |xxhash64| < 2^63 ≈ 9.3e18, so even
    10^18 rows sum to < 1e37 < 1e38. Count + digest run as ONE
    aggregation job."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.xxhash64(*[F.col(c) for c in df.columns]).cast("decimal(38,0)")
        ).alias("digest"),
    ).collect()[0]
    return {
        "row_count": row["n"],
        "schema": df.schema.simpleString(),
        "content_digest": None if row["digest"] is None else int(row["digest"]),
    }


class StageCheckpoint:
    """Directory-backed stage store: stage -> Parquet dir + JSON
    manifest file. Subclasses swap the storage layer by overriding the
    five ``_load_manifest/_store_manifest/_write_data/_read_data/
    _data_committed`` hooks — `TableStageCheckpoint` does exactly that
    to target catalog (Iceberg-style) tables with manifest ROWS."""

    def __init__(self, spark: SparkSession, work_dir: str) -> None:
        self.spark = spark
        self.work_dir = Path(work_dir)
        self.work_dir.mkdir(parents=True, exist_ok=True)

    def _stage_dir(self, stage: str) -> Path:
        return self.work_dir / stage

    def _manifest_path(self, stage: str) -> Path:
        return self.work_dir / f"{stage}.manifest.json"

    # -- storage hooks -------------------------------------------------
    def _load_manifest(self, stage: str) -> dict | None:
        mp = self._manifest_path(stage)
        if not mp.exists():
            return None
        try:
            return json.loads(mp.read_text())
        except json.JSONDecodeError:
            return None

    def _store_manifest(self, stage: str, manifest: dict) -> None:
        tmp = self._manifest_path(stage).with_suffix(".json.tmp")
        tmp.write_text(json.dumps(manifest, indent=2))
        os.replace(tmp, self._manifest_path(stage))

    def _write_data(self, stage: str, df: DataFrame) -> DataFrame:
        out = self._stage_dir(stage)
        df.write.mode("overwrite").parquet(str(out))
        return self.spark.read.parquet(str(out))

    def _read_data(self, stage: str) -> DataFrame:
        return self.spark.read.parquet(str(self._stage_dir(stage)))

    def _data_committed(self, stage: str) -> bool:
        return (self._stage_dir(stage) / "_SUCCESS").exists()

    # -- contract (storage-independent) --------------------------------
    def _expected_fingerprints(
        self, inputs: list[str] | None, explicit: dict | None
    ) -> dict:
        """Fingerprint each named input: explicit (caller-measured, for
        external inputs) wins; otherwise derive from the input stage's
        own manifest; inputs with neither stay unchecked (None)."""
        fps: dict = {}
        for name in inputs or []:
            if explicit and name in explicit:
                fps[name] = explicit[name]
                continue
            m = self._load_manifest(name)
            if m is not None:
                fps[name] = {
                    "row_count": m.get("row_count"),
                    "schema": m.get("schema"),
                    "content_digest": m.get("content_digest"),
                }
            else:
                fps[name] = None
        return fps

    def is_complete(
        self,
        stage: str,
        inputs: list[str] | None = None,
        input_fingerprints: dict | None = None,
    ) -> bool:
        """A stage is servable iff its data commit + manifest exist
        AND every checkable input fingerprint matches what the manifest
        recorded — changed upstream data invalidates the stage instead
        of being silently served stale."""
        manifest = self._load_manifest(stage)
        if manifest is None:
            return False
        if not self._data_committed(stage):
            return False
        if "row_count" not in manifest:
            return False
        expected = self._expected_fingerprints(inputs, input_fingerprints)
        recorded = manifest.get("input_fingerprints", {})
        for name, fp in expected.items():
            if fp is not None and recorded.get(name) != fp:
                return False
        return True

    def read(self, stage: str) -> DataFrame:
        return self._read_data(stage)

    def manifest(self, stage: str) -> dict:
        m = self._load_manifest(stage)
        if m is None:
            raise FileNotFoundError(f"no manifest for stage {stage!r}")
        return m

    def write(
        self,
        stage: str,
        df: DataFrame,
        score_col: str | None = None,
        inputs: list[str] | None = None,
        input_fingerprints: dict | None = None,
    ) -> DataFrame:
        """Materialize a stage and its lineage manifest; returns the
        re-read DataFrame (so downstream consumes the checkpoint, not
        the original lineage)."""
        persisted = self._write_data(stage, df)

        # One job yields the whole lineage record: per-partition row
        # counts AND per-partition content digests (multiset SUM of
        # xxhash64 over every column, decimal(38,0) carrier — see
        # fingerprint_df for why sum, not xor). Sum is associative and
        # commutative, so the stage digest is the SUM of the partition
        # digests — the same order-insensitive digest fingerprint_df
        # computes — and a changed partition is locatable from the
        # manifest alone.
        per = (
            persisted.groupBy(F.spark_partition_id().alias("p"))
            .agg(
                F.count("*").alias("rows"),
                F.sum(
                    F.xxhash64(
                        *[F.col(c) for c in persisted.columns]
                    ).cast("decimal(38,0)")
                ).alias("digest"),
            )
            .collect()
        )
        per_partition = [
            {
                "partition": r["p"],
                "rows": r["rows"],
                "digest": None if r["digest"] is None else int(r["digest"]),
            }
            for r in per
        ]
        content_digest = sum(
            r["digest"] for r in per if r["digest"] is not None
        )
        manifest: dict = {
            "stage": stage,
            "row_count": sum(r["rows"] for r in per),
            "content_digest": int(content_digest),
            "schema": persisted.schema.simpleString(),
            "partitions": sorted(per_partition, key=lambda x: x["partition"]),
            "inputs": inputs or [],
            "input_fingerprints": self._expected_fingerprints(
                inputs, input_fingerprints
            ),
        }
        if score_col and score_col in persisted.columns:
            hist = (
                persisted.select(
                    F.floor(F.col(score_col) * 10).cast("int").alias("bucket")
                )
                .groupBy("bucket")
                .count()
                .orderBy("bucket")
                .collect()
            )
            manifest["score_histogram"] = {
                str(r["bucket"] / 10.0): r["count"] for r in hist
            }

        self._store_manifest(stage, manifest)
        return persisted

    def run_stage(
        self,
        stage: str,
        build,
        score_col: str | None = None,
        inputs: list[str] | None = None,
        input_fingerprints: dict | None = None,
        force: bool = False,
    ) -> DataFrame:
        """Resume contract: return the checkpoint if its manifest AND
        input fingerprints validate, else build (a zero-arg callable
        returning a DataFrame), write, return."""
        if not force and self.is_complete(stage, inputs, input_fingerprints):
            return self.read(stage)
        return self.write(
            stage,
            build(),
            score_col=score_col,
            inputs=inputs,
            input_fingerprints=input_fingerprints,
        )


class TableStageCheckpoint(StageCheckpoint):
    """Catalog-table stage store — the north rule's "checkpoint each
    stage to Iceberg" deployment shape.

    Stage data lands in ``{prefix}_{stage}`` catalog tables and every
    lineage manifest is APPENDED as a row to ``{prefix}_manifest``
    (columns ``stage, seq, manifest``; highest ``seq`` per stage wins),
    so re-runs leave an audit trail instead of overwriting history —
    the `_manifest`-rows contract SURVEY §2.1 prescribes. ``prefix``
    is a table-identifier prefix, e.g. ``nmsck.run1`` -> tables
    ``nmsck.run1_pairs_fuzzy``, ``nmsck.run1_manifest``; point it at
    an Iceberg catalog (``ice.crawl.run1``) and stage replacement
    becomes an atomic snapshot swap with the data files in object
    storage. On the plain session catalog the same code runs against
    parquet-provider tables under ``spark.sql.warehouse.dir`` (what
    the tests exercise); a torn overwrite there has the same risk
    window as any non-transactional table format — the manifest row is
    only appended after the data write returns, mirroring the file
    backend's write-order guarantee.
    """

    def __init__(
        self, spark: SparkSession, prefix: str, fmt: str = "parquet"
    ) -> None:
        from .tables import ensure_namespace, is_table_ref

        if not is_table_ref(f"{prefix}_manifest"):
            raise ValueError(
                f"prefix {prefix!r} must be a catalog table-identifier "
                "prefix (e.g. 'nmsck.run1' or 'ice.crawl.run1')"
            )
        self.spark = spark
        self.prefix = prefix
        self.fmt = fmt
        ensure_namespace(spark, f"{prefix}_manifest")

    def _table(self, stage: str) -> str:
        import re

        if stage == "manifest":
            # {prefix}_manifest IS the manifest table; a stage of that
            # name would overwrite every stage's lineage rows.
            raise ValueError(
                "'manifest' is reserved (collides with the manifest table)"
            )
        # Reject BEFORE the (possibly expensive) stage build runs. The
        # stage must be a bare identifier segment, not merely make the
        # COMPOSED ref parse: 'pairs-fuzzy' would route write_table to
        # its filesystem-path branch (stray dir in the driver cwd), and
        # 'pairs.fuzzy' would parse as a 2-part ref into a database
        # ('{prefix}_pairs') that was never created — either way the
        # build is wasted and resume never commits.
        if not re.fullmatch(r"[A-Za-z0-9_]+", stage):
            raise ValueError(
                f"stage {stage!r} is not a valid identifier segment; "
                "use [a-zA-Z0-9_] stage names"
            )
        return f"{self.prefix}_{stage}"

    @property
    def _manifest_table(self) -> str:
        return f"{self.prefix}_manifest"

    def _load_manifest(self, stage: str) -> dict | None:
        self._table(stage)  # validate the stage name up front, before
        # is_complete can miss and run_stage launches the build
        if not self.spark.catalog.tableExists(self._manifest_table):
            return None
        rows = (
            self.spark.table(self._manifest_table)
            .where(F.col("stage") == stage)
            .orderBy(F.col("seq").desc())
            .limit(1)
            .collect()
        )
        if not rows:
            return None
        try:
            return json.loads(rows[0]["manifest"])
        except json.JSONDecodeError:
            return None

    def _store_manifest(self, stage: str, manifest: dict) -> None:
        import time

        from .tables import write_table

        row = self.spark.createDataFrame(
            [(stage, time.time_ns(), json.dumps(manifest))],
            schema="stage string, seq long, manifest string",
        )
        write_table(row, self._manifest_table, fmt=self.fmt, mode="append")

    def _write_data(self, stage: str, df: DataFrame) -> DataFrame:
        from .tables import write_table

        write_table(df, self._table(stage), fmt=self.fmt, mode="overwrite")
        return self.spark.table(self._table(stage))

    def _read_data(self, stage: str) -> DataFrame:
        return self.spark.table(self._table(stage))

    def _data_committed(self, stage: str) -> bool:
        return self.spark.catalog.tableExists(self._table(stage))
