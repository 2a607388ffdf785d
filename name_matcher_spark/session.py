"""SparkSession factory tuned for the linkage workload.

Defaults encode the scale posture required at 100 TB: AQE on (runtime
join-side selection + skew-join splitting replaces the reference's
hand-rolled "count both tables, index the smaller" heuristic,
src/matching/mod.rs:3400-3403), the compiled JVM kernels
(normalize_text, soundex4, Double Metaphone, Jaro-Winkler, MinHash
band keys) on the classpath and registered, and shuffle partitions
sized for the local harness but overridable for a real cluster.
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

    From a source checkout the session loads the kernel jar (built from
    ``javaudf/*.java`` when stale); a deployed package expects it from
    ``--jars``. Either way the five Java kernels are registered here,
    and a missing class raises here rather than at the first query.
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
        # Arrow channel for the remaining pandas UDFs.
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
    if jar is not None:
        builder = builder.config("spark.jars", jar)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _register_jvm_udfs(spark)
    return spark


def _ensure_udf_jar() -> str | None:
    """Compile (if stale) and return the JVM kernel jar.

    normalize_text, soundex4, Double Metaphone, Jaro-Winkler and the
    MinHash band keys run as Java UDFs so the per-record prepare chain,
    the fuzzy ladder's pair scoring and the LSH tier stay 100% JVM —
    benchmarking here showed the Arrow JVM<->Python channel capping
    throughput regardless of cores, while pure-JVM stages scale with
    the slot count.

    Only a source checkout (``tools/build_java_udfs.py`` beside the
    package) builds the jar here. When the package is loaded from a
    ``--py-files`` zip or an install, the deployment ships the jar with
    ``--jars``: this returns None and leaves ``spark.jars`` alone, and
    ``_register_jvm_udfs`` raises if a kernel class is missing.
    """
    import sys

    tools = Path(_PKG_PARENT) / "tools"
    if not (tools / "build_java_udfs.py").is_file():
        return None
    if str(tools) not in sys.path:
        sys.path.insert(0, str(tools))
    from build_java_udfs import build  # type: ignore[import-not-found]

    return str(build())


def _register_jvm_udfs(spark: SparkSession) -> None:
    """Register the five Java kernels under the names the column
    helpers call (``nms_jw_pct``, ``nms_normalize_text``,
    ``nms_soundex4``, ``nms_dmeta``, ``nms_minhash_bands``). A class
    missing from the classpath raises."""
    from pyspark.sql.types import ArrayType, DoubleType, StringType

    for name, cls, rtype in (
        ("nms_jw_pct", "nms.NmsJaroWinkler", DoubleType()),
        ("nms_normalize_text", "nms.NmsNormalizeText", StringType()),
        ("nms_soundex4", "nms.NmsSoundex4", StringType()),
        ("nms_dmeta", "nms.NmsDoubleMetaphone", StringType()),
        ("nms_minhash_bands", "nms.NmsMinHashBands", ArrayType(StringType())),
    ):
        spark.udf.registerJavaFunction(name, cls, rtype)
