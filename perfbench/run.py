#!/usr/bin/env python3
"""Benchmark driver for the linkage engine.

    python3 perfbench/run.py --workload link_batch_stream --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One process, one Spark session at
``local[N]`` (N = ``SPARK_GRAFT_CPUS`` or the CPUs this process may
use). The run

1. compiles the JVM kernels from source if the jar is stale;
2. generates the workload's inputs from ``--seed`` (cached in
   ``perfbench/_data``);
3. sets up the program: ``session.get_spark`` with JVM-UDF
   registration, then a warm-up query (``setup_s``);
4. with ``--trace 0``, runs operations back to back until ``--seconds``
   have passed (at least one) and reports the end-to-end metrics; with
   ``--trace 1``, runs an untraced, a traced and an untraced operation
   and reports the per-layer metrics of the traced one;
5. checks the outputs (``workloads.py`` gates; every operation's output
   hash must equal the first's) and exits 1 if a check fails.

Every file the run writes stays under ``perfbench/``. The last line of
standard output is the result JSON; the line before it is a report
with the seed, input sizes, host shape and per-operation figures.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "records_per_s": "rec/s",
    "peak_rss_mb": "MB",
}


def cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(v) for v in f.readline().split()[1:9]]
    return fields[7], sum(fields)


class RssSampler:
    """Peak resident memory of a process tree (the driver JVM and its
    Python workers), sampled from /proc while ``active``."""

    # 5 Hz: one walk of /proc holds the GIL for ~2 ms, which the driver
    # thread's py4j calls would otherwise feel.
    INTERVAL_S = 0.2

    def __init__(self, root_pid: int) -> None:
        self.root = root_pid
        self.active = False
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(name))
        total, todo = 0, [self.root]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, []))
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        return total

    def _loop(self) -> None:
        while not self._stop.wait(self.INTERVAL_S):
            if self.active:
                self.peak = max(self.peak, self._tree_rss())

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def configure_env(work: str) -> None:
    """Keep every file Spark, the JVMs and Python write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["NMS_WAREHOUSE_DIR"] = os.path.join(work, "warehouse")
    # Every JVM, the spark-submit launcher's too: no /tmp/hsperfdata_*.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # A 1 GB driver heap (the program's NMS_DRIVER_MEM setting) instead of
    # its 8 GB default: with 8 GB, peak_rss_mb follows when the collector
    # happens to run and spread 0.34 (IQR/median) over ten seeds of
    # link_batch_stream on a 4-core host; the inputs fit in far less.
    os.environ["NMS_DRIVER_MEM"] = "1g"
    import tempfile

    tempfile.tempdir = None


def setup(workload: str):
    """``session.get_spark`` plus the warm-up query; returns the
    session and the times it started, got its session and ended."""
    from name_matcher_spark.session import get_spark

    start = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{workload}",
        master=f"local[{cpus()}]",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    got = time.perf_counter()
    sc = spark.sparkContext
    sc.setJobGroup(f"{workload}/session", "warm-up")
    warm_up(spark)
    sc.setLocalProperty("spark.jobGroup.id", None)
    return spark, (start, got, time.perf_counter())


def warm_up(spark) -> None:
    """One query over a few rows: the JVM kernels, the Python workers and
    a shuffle, so the first timed query does not pay for their start-up.
    A second pass takes about 1 s and no longer changes."""
    from pyspark.sql import functions as F

    from name_matcher_spark.operators.prepare import prepare_persons

    rows = [(i, f"n{i}", None, "Smith", None) for i in range(8)]
    df = spark.createDataFrame(
        rows, "id long, first_name string, middle_name string, last_name string, birthdate date"
    ).withColumn("birthdate", F.to_date(F.lit("1970-01-01")))
    prepare_persons(df).groupBy("block_key").count().collect()


def stop(spark) -> None:
    """Stop Spark and wait for the driver JVM (its Python workers stop
    with it)."""
    gw = spark.sparkContext._gateway
    proc = gw.proc
    spark.stop()
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "name_matcher_spark")):
        print(f"no name_matcher_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    wl = workloads.WORKLOADS[args.workload]

    work = os.path.join(HERE, "_work", f"run-{os.getpid()}")
    configure_env(work)
    try:
        return _run(args, wl, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, wl, work: str) -> int:
    from build_java_udfs import build

    import workloads

    build()  # before set-up: compiling is not set-up time
    inputs = workloads.make_inputs(
        args.workload, args.seed, os.path.join(HERE, "_data")
    )

    steal0, total0 = cpu_ticks()
    spark, (t_setup0, t_get, t_setup1) = setup(args.workload)
    setup_parts = {"get_spark": t_get - t_setup0, "warm_up": t_setup1 - t_get}
    setup_s = t_setup1 - t_setup0
    problems: list[str] = []
    attempted = failed = 0
    walls: list[float] = []
    hashes: list[str] = []
    checks: list[float] = []  # seconds spent hashing and gating each op
    gate_facts: dict = {}
    sinks: dict[int, int] = {}  # bytes each operation left in its work dir
    layer: dict[str, float] = {}
    trace_file = None
    try:
        with RssSampler(spark.sparkContext._gateway.proc.pid) as rss:

            def one(i: int, tr=None) -> float | None:
                nonlocal attempted, failed
                attempted += 1
                rss.active = tr is None
                t = time.perf_counter()
                try:
                    outputs = wl.op(spark, inputs, os.path.join(work, f"op{i}"), tr)
                    dt = time.perf_counter() - t
                except Exception as e:  # noqa: BLE001 - a failed op is counted
                    failed += 1
                    problems.append(f"op{i}: {type(e).__name__}: {str(e)[:300]}")
                    return None
                finally:
                    rss.active = False
                t = time.perf_counter()
                h = workloads.output_hash(spark, outputs)
                if not hashes:
                    gate, facts = wl.gate(spark, inputs, outputs)
                    gate_facts.update(facts)
                    problems.extend(gate)
                    failed += bool(gate)
                elif h != hashes[0]:
                    failed += 1
                    problems.append(f"op{i}: output hash {h} != {hashes[0]}")
                hashes.append(h)
                checks.append(time.perf_counter() - t)
                sinks[i] = workloads.dir_bytes(os.path.join(work, f"op{i}"))
                shutil.rmtree(os.path.join(work, f"op{i}"), ignore_errors=True)
                return dt

            if args.trace == 0:
                t0 = time.perf_counter()
                i = 0
                while i == 0 or time.perf_counter() - t0 < args.seconds:
                    dt = one(i)
                    if dt is not None:
                        walls.append(dt)
                    i += 1
            else:
                layer, trace_file = traced(args, spark, one, walls, sinks,
                                           (t_setup0, t_setup1))
    finally:
        steal1, total1 = cpu_ticks()
        versions = {
            "spark": spark.version,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "python": platform.python_version(),
        }
        stop(spark)

    wall = statistics.median(walls) if walls else 0.0
    if args.trace == 0:
        metrics = {
            "setup_s": setup_s,
            "wall_s": wall,
            "records_per_s": inputs.rows / wall if wall else 0.0,
            "peak_rss_mb": rss.peak / 2**20,
        }
        units = END_TO_END
    else:
        import spans

        metrics, units = layer, spans.metric_units()
    correct = not problems and not failed
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "inputs": {"rows": inputs.rows, "bytes": inputs.bytes},
        "ops_s": walls,
        "checks_s": checks,
        "samples": len(walls),
        "output_hash": hashes[0] if hashes else None,
        "gate": gate_facts,
        "setup_parts_s": setup_parts,
        "problems": problems,
        "trace_file": trace_file,
        "host": {
            "nproc": len(os.sched_getaffinity(0)),
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "local_cores": cpus(),
            **versions,
            "cpu_steal_share": (steal1 - steal0) / max(1, total1 - total0),
        },
    }
    print(json.dumps({"report": report}))
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0 if correct else 1


def traced(args, spark, one, walls: list[float], sinks: dict, setup_span):
    """Untraced, traced, untraced. The first operation pays for compiling
    the plans; the traced one's overhead is measured against the
    untraced one after it, which is at least as warm, so the overhead is
    not understated."""
    import spans

    tr = spans.Tracer(spark, args.workload)
    tr.record("session", "get_spark", *setup_span)
    first = one(0)
    with tr.patched():
        t0 = time.perf_counter()
        traced_s = one(1, tr)
        t1 = time.perf_counter()
    after = one(2)
    walls.extend(v for v in (first, after) if v is not None)
    metrics = tr.layer_metrics(cpus(), sinks.get(1, 0))
    metrics["trace.overhead_s"] = (traced_s or 0.0) - (after or 0.0)
    metrics["trace.unattributed_s"] = (t1 - t0) - tr.attributed(t0, t1)
    os.makedirs(os.path.join(HERE, "_traces"), exist_ok=True)
    path = os.path.join(HERE, "_traces", f"{args.workload}-seed{args.seed}-{tr.run_id}.jsonl")
    tr.write(path)
    return metrics, os.path.relpath(path, ROOT)


if __name__ == "__main__":
    sys.exit(main())
