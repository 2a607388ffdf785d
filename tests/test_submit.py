"""North-rule deployment contract: the pipeline runs under a REAL
`spark-submit --py-files nms.zip --jars nms-udfs.jar` invocation, with
the package importable only from the zip (no repo on PYTHONPATH), and
resumes from its stage checkpoints on a second submit.

This is the closest a single-box sandbox gets to the reference rule's
"run via spark-submit --py-files on multi-executor clusters": the same
artifacts (zip + jar + job script) submit unchanged to a real master.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]


def _spark_submit() -> str:
    # Use the spark-submit bundled with the installed pyspark so driver
    # and framework versions always agree.
    import pyspark

    cand = Path(pyspark.__file__).parent / "bin" / "spark-submit"
    return str(cand) if cand.exists() else "spark-submit"


def _write_pages(tmp: Path) -> tuple[Path, Path]:
    from name_matcher_spark.fixtures.pages import make_pages
    from name_matcher_spark.fixtures.persons import make_dirty

    a, b, _ = make_dirty(150, seed=77)
    pa, pb = tmp / "pages_a.parquet", tmp / "pages_b.parquet"
    for df, path in ((make_pages(a, "a"), pa), (make_pages(b, "b"), pb)):
        # pandas defaults to nanosecond parquet timestamps, which
        # Spark's reader rejects; crawl timestamps are micros.
        df.to_parquet(path, index=False, coerce_timestamps="us",
                      allow_truncated_timestamps=True)
    return pa, pb


def _submit(
    tmp: Path, zip_path: Path, extra: list[str], conf: list[str] | None = None
) -> dict:
    jar = REPO / "name_matcher_spark" / "javaudf" / "nms-udfs.jar"
    cmd = [
        _spark_submit(),
        "--master", "local[4]",
        "--py-files", str(zip_path),
        *( ["--jars", str(jar)] if jar.exists() else [] ),
        "--conf", "spark.ui.enabled=false",
        "--conf", "spark.sql.shuffle.partitions=8",
        *(conf or []),
        str(REPO / "tools" / "submit_job.py"),
        "--work-dir", str(tmp / "ckpt"),
        "--out", str(tmp / "out"),
        *extra,
    ]
    # Strip the repo from the environment: the driver and executors
    # must resolve name_matcher_spark from the zip alone.
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    proc = subprocess.run(
        cmd, cwd=tmp, env=env, capture_output=True, text=True, timeout=420
    )
    assert proc.returncode == 0, f"spark-submit failed:\n{proc.stdout[-3000:]}\n{proc.stderr[-3000:]}"
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith('{"metric"')]
    assert lines, f"no summary line in stdout:\n{proc.stdout[-2000:]}"
    return json.loads(lines[-1])


@pytest.mark.slow
def test_spark_submit_pyfiles_end_to_end(tmp_path):
    sys.path.insert(0, str(REPO / "tools"))
    from make_pyfiles_zip import build

    zip_path = build(str(tmp_path / "nms.zip"))
    pa, pb = _write_pages(tmp_path)
    extra = ["--pages-a", str(pa), "--pages-b", str(pb), "--threshold", "0.95"]

    summary = _submit(tmp_path, zip_path, extra)
    assert summary["stages"]["pairs_fuzzy"] > 0
    assert summary["stages"]["clusters"] > 0
    assert summary["n_partitions"] >= 1
    assert summary["score_histogram"], "manifest must carry the score histogram"
    for stage in ("pairs_fuzzy", "households", "clusters"):
        assert (tmp_path / "out" / f"{stage}.parquet" / "_SUCCESS").exists()

    # Second submit resumes from checkpoints: identical outputs, and the
    # pairs_fuzzy manifest mtime is untouched (stage skipped, not rerun).
    manifest = tmp_path / "ckpt" / "pairs_fuzzy.manifest.json"
    mtime = manifest.stat().st_mtime_ns
    summary2 = _submit(tmp_path, zip_path, extra)
    assert summary2["stages"] == summary["stages"]
    assert manifest.stat().st_mtime_ns == mtime


_KERNEL_JOB = """
import json

from pyspark.sql import functions as F

from name_matcher_spark.functions.normalize import normalize_text_col
from name_matcher_spark.functions.similarity import jw_pct_expr
from name_matcher_spark.operators.dedup import band_buckets
from name_matcher_spark.operators.prepare import dmeta_col, soundex4_col
from name_matcher_spark.session import get_spark

spark = get_spark(master="inherit")
row = (
    spark.createDataFrame([("Ó Súilleabháin", "O Suilleabhain")], "a string, b string")
    .select(
        normalize_text_col(F.col("a")).alias("norm"),
        soundex4_col(F.col("b")).alias("sx"),
        dmeta_col(F.col("b")).alias("dm"),
        jw_pct_expr(normalize_text_col(F.col("a")), F.lower(F.col("b"))).alias("jw"),
    )
    .first()
)
bands = band_buckets(
    spark.createDataFrame([(1, BAND_TEXT)], "doc_id long, text string"),
    hash_fn="md5",
).orderBy("band")
print(json.dumps({
    "row": row.asDict(),
    "bands": [r.key for r in bands.collect()],
    "jars": spark.conf.get("spark.jars", ""),
}))
"""

# Already in normal form (lower case, single spaces), so the
# pure-Python reference below needs no normalization.
_BAND_TEXT = "ó súilleabháin 😀 agus"


def _md5_band_keys(t: str, k: int = 5, num_hashes: int = 8, bands: int = 4):
    """MinHash band keys in md5 mode, from hashlib: code-point k-grams,
    hex-string min of md5(gram ':' i) per hash, '|'-joined per band."""
    import hashlib

    grams = [t[i:i + k] for i in range(len(t) - k + 1)]
    mins = [
        min(hashlib.md5(f"{g}:{i}".encode()).hexdigest() for g in grams)
        for i in range(num_hashes)
    ]
    r = num_hashes // bands
    return ["|".join(mins[b * r:(b + 1) * r]) for b in range(bands)]


@pytest.mark.slow
def test_spark_submit_job_outside_tools(tmp_path):
    """A job script of the caller's own, with the package only in the
    zip and the kernels only in --jars: nothing on sys.path can build
    the jar, so get_spark must take the kernels from --jars."""
    sys.path.insert(0, str(REPO / "tools"))
    from make_pyfiles_zip import build

    zip_path = build(str(tmp_path / "nms.zip"))
    jar = REPO / "name_matcher_spark" / "javaudf" / "nms-udfs.jar"
    job = tmp_path / "job.py"
    job.write_text(f"BAND_TEXT = {_BAND_TEXT!r}\n" + _KERNEL_JOB)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    proc = subprocess.run(
        [
            _spark_submit(), "--master", "local[2]",
            "--py-files", str(zip_path), "--jars", str(jar),
            "--conf", "spark.ui.enabled=false", str(job),
        ],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, f"spark-submit failed:\n{proc.stdout[-3000:]}\n{proc.stderr[-3000:]}"
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    from name_matcher_spark.functions.normalize import (
        normalize_for_phonetic_py,
        strip_diacritics_lower_trim,
    )
    from name_matcher_spark.functions.phonetic import double_metaphone, soundex4

    assert out["row"] == {
        "norm": strip_diacritics_lower_trim("Ó Súilleabháin"),
        "sx": soundex4("O Suilleabhain"),
        "dm": double_metaphone(normalize_for_phonetic_py("O Suilleabhain")),
        "jw": 100.0,
    }
    assert out["bands"] == _md5_band_keys(_BAND_TEXT)
    assert out["jars"].endswith("nms-udfs.jar")


@pytest.mark.slow
def test_spark_submit_table_checkpoints(tmp_path):
    """Iceberg-style deploy shape: stages checkpoint to CATALOG TABLES
    (--ckpt-tables) and outputs land as catalog tables (--out as a
    table-identifier prefix), under a real spark-submit against a
    Hive/derby metastore so the catalog outlives the JVM. The second
    submit is a fresh JVM that must resume purely from catalog state:
    same stage counts, zero new manifest rows."""
    sys.path.insert(0, str(REPO / "tools"))
    from make_pyfiles_zip import build

    zip_path = build(str(tmp_path / "nms.zip"))
    pa, pb = _write_pages(tmp_path)
    # A per-test derby metastore + warehouse: catalog metadata persists
    # across the two submits (exactly what a shared Hive/Iceberg
    # catalog provides on a real cluster).
    catalog_conf = [
        "--conf", "spark.sql.catalogImplementation=hive",
        "--conf", f"spark.sql.warehouse.dir={tmp_path / 'wh'}",
        "--conf",
        "spark.hadoop.javax.jdo.option.ConnectionURL="
        f"jdbc:derby:;databaseName={tmp_path / 'metastore_db'};create=true",
    ]
    extra = [
        "--pages-a", str(pa), "--pages-b", str(pb),
        "--ckpt-tables", "nmsck.deploy",
        "--out", "nmsout.run1",
    ]

    summary = _submit(tmp_path, zip_path, extra, conf=catalog_conf)
    assert summary["stages"]["pairs_fuzzy"] > 0
    assert summary["stages"]["clusters"] > 0
    assert summary["score_histogram"]
    # one manifest row per built stage
    n_stages = 7  # extract_a/b, prepare_a/b, pairs_fuzzy, households, clusters
    assert summary["manifest_rows"] == n_stages
    # stage + output tables are real warehouse tables
    assert (tmp_path / "wh" / "nmsck.db" / "deploy_pairs_fuzzy").exists()
    assert (tmp_path / "wh" / "nmsout.db" / "run1_clusters").exists()

    # Fresh JVM, same catalog: everything served, nothing rebuilt.
    summary2 = _submit(tmp_path, zip_path, extra, conf=catalog_conf)
    assert summary2["stages"] == summary["stages"]
    assert summary2["manifest_rows"] == n_stages


@pytest.mark.slow
def test_spark_submit_stream_mode(tmp_path):
    """--stream: pages directory drained incrementally under a real
    spark-submit; cluster label store must match the local batch
    pipeline over the same pages."""
    sys.path.insert(0, str(REPO / "tools"))
    from make_pyfiles_zip import build

    zip_path = build(str(tmp_path / "nms.zip"))
    pa, pb = _write_pages(tmp_path)
    stream_dir = tmp_path / "incoming"
    stream_dir.mkdir()
    # two files pre-arrived in the stream directory
    import pandas as pd
    full = pd.read_parquet(pa)
    full.iloc[::2].to_parquet(stream_dir / "w1.parquet", index=False,
                              coerce_timestamps="us", allow_truncated_timestamps=True)
    full.iloc[1::2].to_parquet(stream_dir / "w2.parquet", index=False,
                               coerce_timestamps="us", allow_truncated_timestamps=True)

    summary = _submit(
        tmp_path, zip_path,
        ["--stream", "--pages-a", str(stream_dir), "--pages-b", str(pb)],
    )
    assert summary["metric"] == "submit_job_stream"
    assert summary["pairs"] > 0
    assert summary["clustered_nodes"] > 0
    assert (tmp_path / "out" / "clusters").exists()

    # Parity with the local batch pipeline.
    from name_matcher_spark.operators.clustering import cluster_pairs
    from name_matcher_spark.operators.extract import extract_entities
    from name_matcher_spark.operators.fuzzy_join import match_fuzzy
    from name_matcher_spark.operators.prepare import prepare_persons
    from name_matcher_spark.session import get_spark
    from name_matcher_spark.streaming.clustering import read_clusters

    spark = get_spark(app_name="submit-stream-check", master="local[4]",
                      shuffle_partitions=8)
    pages = spark.read.parquet(str(stream_dir))
    ref = prepare_persons(
        extract_entities(spark.read.parquet(str(pb))).withColumnRenamed("url", "uuid"),
        False,
    )
    prepared = prepare_persons(
        extract_entities(pages).withColumnRenamed("url", "uuid"), False
    )
    expected = cluster_pairs(match_fuzzy(prepared, ref, include_middle=False))
    got = read_clusters(spark, str(tmp_path / "out" / "clusters"))
    diff = got.exceptAll(expected).count() + expected.exceptAll(got).count()
    assert diff == 0
