"""SparkSession factory tuned for the linkage workload.

Defaults encode the scale posture required at 100 TB: AQE on (runtime
join-side selection + skew-join splitting replaces the reference's
hand-rolled "count both tables, index the smaller" heuristic,
src/matching/mod.rs:3400-3403), Arrow transfer on (all scoring kernels
are pandas UDFs over Arrow batches), and shuffle partitions sized for
the local harness but overridable for a real cluster.
"""

from __future__ import annotations

import os
import tempfile
from pathlib import Path

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("NMS_SHUFFLE_PARTITIONS", "32"))

# Directory containing the name_matcher_spark package — Python workers
# deserialize our pandas UDFs and must be able to import it regardless
# of the caller's cwd. Local mode propagates it via PYTHONPATH; on a
# real cluster ship the package with `spark-submit --py-files nms.zip`.
_PKG_PARENT = str(Path(__file__).resolve().parents[1])


def _ensure_pythonpath() -> str:
    current = os.environ.get("PYTHONPATH", "")
    parts = [p for p in current.split(os.pathsep) if p]
    if _PKG_PARENT not in parts:
        parts.insert(0, _PKG_PARENT)
    joined = os.pathsep.join(parts)
    os.environ["PYTHONPATH"] = joined
    return joined


def get_spark(
    app_name: str = "name_matcher_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with linkage-tuned defaults.

    On a real cluster these same configs apply; only ``master`` and the
    partition count change (spark-submit sets master, and
    ``NMS_SHUFFLE_PARTITIONS`` should be ~2-3x total cores).
    """
    master = master or os.environ.get("NMS_MASTER", "local[*]")
    n_shuffle = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    pythonpath = _ensure_pythonpath()

    builder = SparkSession.builder.appName(app_name)
    # master="inherit": do NOT set a master — the job was launched via
    # `spark-submit --master ...` and must respect the cluster manager
    # chosen there (tools/submit_job.py uses this). The same logic
    # governs the warehouse dir: a submitted job's catalog/warehouse
    # belongs to the deployment (`--conf spark.sql.warehouse.dir`, or
    # an Iceberg catalog with its own location), while ad-hoc local
    # sessions get a tmp-dir default so catalog-table writes
    # (TableStageCheckpoint / saveAsTable) never litter the caller's
    # cwd with spark-warehouse/.
    if master != "inherit":
        builder = builder.master(master).config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "NMS_WAREHOUSE_DIR",
                os.path.join(tempfile.gettempdir(), "nms-warehouse"),
            ),
        )
    builder = (
        builder
        # Adaptive execution: runtime broadcast decisions, partition
        # coalescing, and skew-join splitting (hot blocking keys).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "3")
        .config(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "64m",
        )
        # AQE coalescing sizes partitions by SHUFFLE BYTES, which is
        # blind to downstream per-row cost. This engine's rows are
        # short texts whose next stage typically fans out 50-100
        # grams/row × several hash calls per gram (MinHash, SimHash,
        # verify), so 1 MB of input is seconds of CPU: with the 1 MB
        # default minPartitionSize a ~4 MB survivor set coalesces to 2
        # partitions and the whole dedup tier runs 2-task no matter
        # how many slots exist (measured: 58 s of a 89 s crawl-e2e
        # wall). 64k lets parallelism-first coalescing keep compute-
        # dense small shuffles wide; at production scale partitions
        # are orders of magnitude above either bound, so this only
        # affects the small-input tail.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        # Arrow channel for every pandas UDF (scoring kernels).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        # Timestamps in the testdata are TIMESTAMP_NTZ-ish micros; keep
        # session TZ fixed so date extraction is deterministic.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("NMS_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.executorEnv.PYTHONPATH", pythonpath)
    )
    jar = _ensure_udf_jar()
    if jar:
        builder = builder.config("spark.jars", jar)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # Always attempt JVM-kernel registration: the class may come from
    # the locally-built jar OR from `spark-submit --jars` (where the
    # tools/ build helper isn't shipped). Both failures are caught and
    # flip the pandas-UDF fallback flags.
    _register_jvm_udfs(spark)
    return spark


def _ensure_udf_jar() -> str | None:
    """Compile (if stale) and return the JVM scoring-kernel jar.

    The Jaro-Winkler kernel runs as a Java UDF so the fuzzy ladder's
    pair scoring is 100% JVM — benchmarking here showed the Arrow
    JVM<->Python channel capping throughput regardless of cores, while
    pure-JVM stages scale with the slot count. On a cluster, ship the
    jar with --jars.
    """
    try:
        import sys

        tools = str(Path(_PKG_PARENT) / "tools")
        if tools not in sys.path:
            sys.path.insert(0, tools)
        from build_java_udfs import build  # type: ignore[import-not-found]

        jar = build()
        return str(jar) if jar else None
    except Exception:  # noqa: BLE001 - fall back to the pandas UDF path
        return None


def _register_jvm_udfs(spark: SparkSession) -> None:
    from pyspark.sql.types import DoubleType, StringType

    from .functions import normalize, phonetic, similarity

    try:
        spark.udf.registerJavaFunction(
            "nms_jw_pct", "nms.NmsJaroWinkler", DoubleType()
        )
        similarity.JVM_JW_ENABLED = True
    except Exception:  # noqa: BLE001
        similarity.JVM_JW_ENABLED = False
    try:
        spark.udf.registerJavaFunction(
            "nms_normalize_text", "nms.NmsNormalizeText", StringType()
        )
        normalize.JVM_NORM_ENABLED = True
    except Exception:  # noqa: BLE001
        normalize.JVM_NORM_ENABLED = False
    try:
        spark.udf.registerJavaFunction(
            "nms_soundex4", "nms.NmsSoundex4", StringType()
        )
        phonetic.JVM_SX_ENABLED = True
    except Exception:  # noqa: BLE001
        phonetic.JVM_SX_ENABLED = False
    try:
        spark.udf.registerJavaFunction(
            "nms_dmeta", "nms.NmsDoubleMetaphone", StringType()
        )
        phonetic.JVM_DMETA_ENABLED = True
    except Exception:  # noqa: BLE001
        phonetic.JVM_DMETA_ENABLED = False
