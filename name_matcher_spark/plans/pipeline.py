"""The full linkage pipeline: pages -> extract -> prepare -> block ->
score -> households + clusters, every stage checkpointed with lineage
(BASELINE.json north rule: any stage resumable; per-partition counts +
score-distribution metrics in each manifest).

Stage graph (each node a Parquet checkpoint + manifest):

    extract_a  extract_b          <- pages tables (or person tables direct)
       |          |
    prepare_a  prepare_b          <- derived matching columns
          \\     /
          pairs_fuzzy             <- blocked candidates + ladder scoring
           |      \\
       households  clusters       <- Option-5 aggregate; transitive CC

Killing the process between any two stages and re-running
``run_linkage`` produces byte-identical final outputs while skipping
every completed stage (tests/test_pipeline.py exercises exactly that).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from ..cache import cache_scope
from ..operators.clustering import cluster_pairs
from ..operators.extract import extract_entities
from ..operators.fuzzy_join import match_fuzzy
from ..operators.household import households_option5
from ..operators.prepare import prepare_persons
from ..sources.checkpoint import StageCheckpoint, fingerprint_df


@dataclass
class LinkageConfig:
    include_middle: bool = False
    blocking: str = "bkey_cascade"
    max_block_rows: int | None = 10000
    fuzzy_threshold: float = 0.95
    household_threshold: float = 0.95
    cluster_threshold: float = 0.95
    stages: tuple = ("pairs_fuzzy", "households", "clusters")


def run_linkage(
    spark: SparkSession,
    work_dir: str,
    persons_a: DataFrame | None = None,
    persons_b: DataFrame | None = None,
    pages_a: DataFrame | None = None,
    pages_b: DataFrame | None = None,
    config: LinkageConfig | None = None,
    force: bool = False,
    checkpoint: StageCheckpoint | None = None,
) -> dict[str, DataFrame]:
    """Run (or resume) the pipeline. Inputs are either pages tables
    (extraction runs first) or person tables directly.

    ``checkpoint`` overrides the stage store: pass a
    ``TableStageCheckpoint`` to land every stage in catalog
    (Iceberg-style) tables with manifest rows instead of the default
    directory-per-stage layout (``work_dir`` is then ignored)."""
    cfg = config or LinkageConfig()
    ckpt = checkpoint or StageCheckpoint(spark, work_dir)
    out: dict[str, DataFrame] = {}

    # Config fingerprint: the reference pins table names + algorithm in
    # its checkpoint token (checkpoint.rs:4-15); here every stage that
    # depends on a knob records it, so re-running with a different
    # config rebuilds instead of serving a stale stage.
    cfg_fp = {
        "include_middle": cfg.include_middle,
        "blocking": cfg.blocking,
        "max_block_rows": cfg.max_block_rows,
        "fuzzy_threshold": cfg.fuzzy_threshold,
    }

    if pages_a is not None:
        persons_a = ckpt.run_stage(
            "extract_a",
            lambda: extract_entities(pages_a).withColumnRenamed("url", "uuid"),
            inputs=["pages_a"],
            input_fingerprints={"pages_a": fingerprint_df(pages_a)},
            force=force,
        )
    if pages_b is not None:
        persons_b = ckpt.run_stage(
            "extract_b",
            lambda: extract_entities(pages_b).withColumnRenamed("url", "uuid"),
            inputs=["pages_b"],
            input_fingerprints={"pages_b": fingerprint_df(pages_b)},
            force=force,
        )
    if persons_a is None or persons_b is None:
        raise ValueError("need persons_{a,b} or pages_{a,b}")

    # Root person fingerprints: when extraction ran, the extract_* stage
    # manifests chain for free; direct person inputs are external and
    # get measured once here (one count job each, reused below).
    fp_a = (
        None if pages_a is not None else {"persons_a": fingerprint_df(persons_a)}
    )
    fp_b = (
        None if pages_b is not None else {"persons_b": fingerprint_df(persons_b)}
    )
    pa = ckpt.run_stage(
        "prepare_a",
        lambda: prepare_persons(persons_a, cfg.include_middle),
        inputs=(["extract_a"] if pages_a is not None else ["persons_a"]) + ["config"],
        input_fingerprints={
            **(fp_a or {}),
            "config": {"include_middle": cfg.include_middle},
        },
        force=force,
    )
    pb = ckpt.run_stage(
        "prepare_b",
        lambda: prepare_persons(persons_b, cfg.include_middle),
        inputs=(["extract_b"] if pages_b is not None else ["persons_b"]) + ["config"],
        input_fingerprints={
            **(fp_b or {}),
            "config": {"include_middle": cfg.include_middle},
        },
        force=force,
    )
    out["prepare_a"], out["prepare_b"] = pa, pb

    # Cache hygiene: match_fuzzy pins its inputs + internal key tables
    # (the "materialize the prepared table once" discipline). run_stage
    # materializes the result to parquet and returns the re-read
    # checkpoint, so those cache entries are dead the moment the stage
    # completes; the scope releases them then, even if the stage
    # raises, so a long-lived session issuing many run_linkage calls
    # does not accumulate cache entries.
    with cache_scope():
        pairs = ckpt.run_stage(
            "pairs_fuzzy",
            lambda: match_fuzzy(
                pa,
                pb,
                include_middle=cfg.include_middle,
                blocking=cfg.blocking,
                max_block_rows=cfg.max_block_rows,
            ),
            score_col="confidence",
            inputs=["prepare_a", "prepare_b", "config"],
            input_fingerprints={"config": cfg_fp},
            force=force,
        )
    out["pairs_fuzzy"] = pairs

    if "households" in cfg.stages:
        out["households"] = ckpt.run_stage(
            "households",
            lambda: households_option5(
                pairs, persons_a, threshold=cfg.household_threshold
            ),
            inputs=["pairs_fuzzy", "config"],
            input_fingerprints={
                "config": {"household_threshold": cfg.household_threshold}
            },
            force=force,
        )
    if "clusters" in cfg.stages:
        out["clusters"] = ckpt.run_stage(
            "clusters",
            lambda: cluster_pairs(pairs, threshold=cfg.cluster_threshold),
            inputs=["pairs_fuzzy", "config"],
            input_fingerprints={
                "config": {"cluster_threshold": cfg.cluster_threshold}
            },
            force=force,
        )
    return out
