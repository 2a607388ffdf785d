"""The traced run: spans around the calls into each layer, plus the
Spark status-store figures of the jobs each layer ran.

The tracer replaces the program's public layer functions at the names
their callers look up (``patched``), so the pipelines run unmodified.
Each wrapper

* materializes the DataFrames it is handed (unless they are already a
  checkpoint or a plain scan), under the caller's job group, so lazy
  upstream work is charged to the layer that built it;
* sets the job group ``<workload>/<layer>``;
* calls the function and materializes the DataFrame it returns, so the
  layer's own jobs run inside its span;
* records a span: name, function, start, end, parent, and the run id
  shared by every span of the run.

Streaming micro-batches run on the query's thread, not the caller's:
the tracer also replaces ``DataStreamWriter.foreachBatch`` so that every
batch function the program hands to Spark runs inside a span of its own.

A span's self time is its duration minus the time its child spans
cover and minus the tracer's own row counts. Spans stay in memory
until ``write``.
"""

from __future__ import annotations

import contextlib
import importlib
import json
import time
import uuid
from dataclasses import dataclass, field
from typing import Callable

from py4j.protocol import Py4JJavaError


@dataclass
class Hook:
    """One wrapped function: ``module.attr`` is replaced for the run."""

    module: str
    attr: str
    layer: str
    count_out: bool = True  # add the output rows to the layer's rows_out
    count_in: bool = False  # record the input rows on the span
    extra: Callable | None = None  # (args, kwargs, out) -> {metric: value}
    owner: str | None = None  # class holding the attribute, if a method
    per_batch: bool = False  # foreachBatch: span each batch, not the call


def _hot_blocks(args, kwargs, out):
    from pyspark.sql import functions as F

    _, right, cap = args
    hot = right.groupBy("r_block_key").count().filter(F.col("count") > cap)
    return {"hot_blocks": hot.count()}


def _null_entities(args, kwargs, out):
    return {"null_entities": out.filter("entity_text = ''").count()}


def _store_rows(args, kwargs, out):
    pairs, labels_dir = args[:2]
    return {"store_rows": pairs.sparkSession.read.parquet(labels_dir).count()}


# Layers are named after modules. The batch-linkage hooks sit where
# plans.pipeline looks its stages up; the crawl hooks where
# harness.wp_crawl_e2e and dedup_pipeline do.
HOOKS = [
    Hook("name_matcher_spark.plans.pipeline", "run_linkage", "plans.pipeline"),
    Hook("name_matcher_spark.sources.checkpoint", "run_stage", "sources",
         owner="StageCheckpoint"),
    Hook("name_matcher_spark.plans.pipeline", "extract_entities",
         "operators.extract", extra=_null_entities),
    Hook("name_matcher_spark.operators.extract", "extract_entities",
         "operators.extract", extra=_null_entities),
    Hook("name_matcher_spark.plans.pipeline", "prepare_persons",
         "operators.prepare"),
    Hook("name_matcher_spark.harness", "prepare_persons", "operators.prepare"),
    Hook("name_matcher_spark.plans.pipeline", "match_fuzzy",
         "operators.fuzzy_join", count_out=False),
    Hook("name_matcher_spark.operators.fuzzy_join", "candidates_bkey_cascade",
         "operators.fuzzy_join"),
    Hook("name_matcher_spark.operators.fuzzy_join", "_refine_hot_blocks",
         "operators.fuzzy_join", count_out=False, extra=_hot_blocks),
    Hook("name_matcher_spark.operators.fuzzy_join", "score_candidate_pairs",
         "functions.fuzzy", count_in=True),
    Hook("name_matcher_spark.plans.pipeline", "households_option5",
         "operators.household"),
    Hook("name_matcher_spark.plans.pipeline", "cluster_pairs",
         "operators.clustering"),
    Hook("name_matcher_spark.operators.clustering", "cluster_pairs",
         "operators.clustering"),
    Hook("name_matcher_spark.operators.web", "url_dedup_groups",
         "operators.web", count_in=True),
    Hook("name_matcher_spark.harness", "match_algo1", "operators.exact"),
    Hook("name_matcher_spark.operators.dedup", "dedup_pipeline",
         "operators.dedup"),
    Hook("name_matcher_spark.operators.dedup", "minhash_lsh_candidates",
         "operators.dedup", count_out=False),
    Hook("name_matcher_spark.operators.dedup", "ngram_jaccard_pairs",
         "operators.dedup", count_out=False),
    # The stream of link_batch_stream: each micro-batch of
    # incremental_linkage extracts, prepares and matches its pages,
    # writes the pairs sink and folds the pairs into the label store.
    Hook("pyspark.sql.streaming.readwriter", "foreachBatch",
         "streaming.linkage", owner="DataStreamWriter", per_batch=True),
    Hook("name_matcher_spark.streaming.linkage", "extract_entities",
         "operators.extract", extra=_null_entities),
    Hook("name_matcher_spark.streaming.linkage", "prepare_persons",
         "operators.prepare"),
    Hook("name_matcher_spark.streaming.linkage", "match_fuzzy",
         "operators.fuzzy_join", count_out=False),
    Hook("name_matcher_spark.streaming.clustering", "apply_cluster_batch",
         "streaming.clustering", count_out=False, count_in=True,
         extra=_store_rows),
    Hook("name_matcher_spark.streaming.clustering", "connected_components",
         "operators.clustering"),
]

LAYERS = [
    "session", "sources", "operators.web", "operators.extract",
    "operators.prepare", "operators.fuzzy_join", "functions.fuzzy",
    "operators.exact", "operators.dedup", "operators.clustering",
    "operators.household", "plans.pipeline", "streaming.linkage",
    "streaming.clustering",
]
COMMON = {
    "busy_s": "s",
    "rows_out": "count",
    "shuffle_write_bytes": "B",
    "spill_bytes": "B",
    "core_util": "ratio",
    "task_skew": "ratio",
    "failed_tasks": "count",
}
EXTRA = {
    "sources": {"sink_bytes": "B"},
    "operators.web": {"dedup_ratio": "ratio"},
    "operators.extract": {"null_entities": "count"},
    "operators.fuzzy_join": {"hot_blocks": "count"},
    "functions.fuzzy": {"pairs_scored": "count", "accept_ratio": "ratio"},
    "operators.dedup": {"lsh_candidates": "count", "verify_precision": "ratio"},
    "operators.clustering": {"jobs": "count"},
    "streaming.linkage": {"batches": "count"},
    "streaming.clustering": {"store_rows": "count", "store_write_s": "s"},
}
TRACE_TOTALS = {"trace.overhead_s": "s", "trace.unattributed_s": "s"}


def metric_units() -> dict[str, str]:
    """Every per-layer metric name the traced run prints, with its unit."""
    units = {}
    for layer in LAYERS:
        for name, unit in {**COMMON, **EXTRA.get(layer, {})}.items():
            units[f"{layer}.{name}"] = unit
    units.update(TRACE_TOTALS)
    return units


@dataclass
class Span:
    id: int
    name: str
    fn: str
    start: float
    parent: int | None
    run_id: str
    count_out: bool = True
    end: float = 0.0
    book_s: float = 0.0  # tracer bookkeeping inside the span (row counts)
    rows_in: int | None = None
    rows_out: int | None = None
    extra: dict = field(default_factory=dict)


class Tracer:
    def __init__(self, spark, workload: str) -> None:
        self.spark = spark
        self.workload = workload
        self.run_id = uuid.uuid4().hex
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def _group(self, layer: str) -> str | None:
        """Put this thread's next jobs in the group ``<workload>/<layer>``;
        returns the group id that was set before."""
        sc = self.spark.sparkContext
        prev = sc.getLocalProperty("spark.jobGroup.id")
        sc.setLocalProperty("spark.jobGroup.id", f"{self.workload}/{layer}")
        return prev

    def _restore_group(self, group: str | None) -> None:
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", group)

    def record(self, layer: str, fn: str, start: float, end: float) -> None:
        """A span measured by the caller (the session set-up)."""
        self.spans.append(
            Span(len(self.spans), layer, fn, start, None, self.run_id, end=end)
        )

    @contextlib.contextmanager
    def span(self, layer: str, fn: str, count_out: bool = True):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), layer, fn, time.perf_counter(),
                 parent.id if parent else None, self.run_id, count_out)
        self.spans.append(s)
        self._stack.append(s)
        prev = self._group(layer)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._restore_group(prev)

    @contextlib.contextmanager
    def _bookkeeping(self, s: Span):
        """Row counts are the tracer's work: their jobs go to the
        ``<workload>/trace`` group and their time out of the span's
        self time."""
        t = time.perf_counter()
        prev = self._group("trace")
        try:
            yield
        finally:
            self._restore_group(prev)
            s.book_s += time.perf_counter() - t

    def wrap(self, layer: str, fn: Callable, hook: Hook | None = None) -> Callable:
        hook = hook or Hook("", fn.__name__, layer)

        def wrapped(*args, **kwargs):
            # Lazy inputs are the caller's work: run them before the span.
            args = tuple(_checkpoint(a) if _lazy(a) else a for a in args)
            kwargs = {k: _checkpoint(v) if _lazy(v) else v for k, v in kwargs.items()}
            with self.span(layer, fn.__name__, hook.count_out) as s:
                out = fn(*args, **kwargs)
                if isinstance(out, (list, tuple)):
                    out = type(out)(_checkpoint(v) for v in out)
                else:
                    out = _checkpoint(out)
                with self._bookkeeping(s):
                    s.rows_out = _count(out)
                    if hook.count_in:
                        s.rows_in = _count([*args, *kwargs.values()])
                    if hook.extra is not None:
                        s.extra = hook.extra(args, kwargs, out)
            return out

        return wrapped

    def wrap_batches(self, layer: str, foreach_batch: Callable) -> Callable:
        """``DataStreamWriter.foreachBatch`` whose batch function runs
        each micro-batch inside a span of ``layer``."""

        def patched(writer, func):
            def batch(df, batch_id):
                with self.span(layer, func.__name__):
                    func(df, batch_id)

            return foreach_batch(writer, batch)

        return patched

    @contextlib.contextmanager
    def patched(self):
        """Replace every hooked function for the duration of the block."""
        # Import every hooked module first, so no module binds a wrapper
        # at import time and gets wrapped twice.
        for h in HOOKS:
            importlib.import_module(h.module)
        saved = []
        for h in HOOKS:
            target = importlib.import_module(h.module)
            if h.owner:
                target = getattr(target, h.owner)
            orig = getattr(target, h.attr)
            saved.append((target, h.attr, orig))
            if h.per_batch:
                setattr(target, h.attr, self.wrap_batches(h.layer, orig))
            else:
                setattr(target, h.attr, self.wrap(h.layer, orig, h))
        try:
            yield
        finally:
            for target, attr, orig in reversed(saved):
                setattr(target, attr, orig)

    # -- results ---------------------------------------------------------
    def self_time(self, s: Span) -> float:
        kids = sorted((c.start, c.end) for c in self.spans if c.parent == s.id)
        covered, edge = 0.0, s.start
        for a, b in kids:
            a = max(a, edge)
            if b > a:
                covered += b - a
                edge = b
        return (s.end - s.start) - covered - s.book_s

    def layer_metrics(self, cores: int, sink_bytes: int) -> dict[str, float]:
        out: dict[str, float] = {}
        for layer in LAYERS:
            spans = [s for s in self.spans if s.name == layer]
            busy = sum(self.self_time(s) for s in spans)
            st = stage_figures(self.spark, f"{self.workload}/{layer}")
            m = {
                "busy_s": busy,
                "rows_out": sum(s.rows_out or 0 for s in spans if s.count_out),
                "shuffle_write_bytes": st["shuffle_write_bytes"],
                "spill_bytes": st["spill_bytes"],
                "core_util": st["run_s"] / (busy * cores) if busy > 0 else 0.0,
                "task_skew": st["task_skew"],
                "failed_tasks": st["failed_tasks"],
            }
            extras: dict[str, float] = {}
            for s in spans:
                for k, v in s.extra.items():
                    extras[k] = extras.get(k, 0) + v
            if layer == "sources":
                m["sink_bytes"] = sink_bytes if spans else 0
            elif layer == "operators.web":
                rin = sum(s.rows_in or 0 for s in spans)
                m["dedup_ratio"] = m["rows_out"] / rin if rin else 0.0
            elif layer == "operators.extract":
                m["null_entities"] = extras.get("null_entities", 0)
            elif layer == "operators.fuzzy_join":
                m["hot_blocks"] = extras.get("hot_blocks", 0)
            elif layer == "functions.fuzzy":
                m["pairs_scored"] = sum(s.rows_in or 0 for s in spans)
                m["accept_ratio"] = (
                    m["rows_out"] / m["pairs_scored"] if m["pairs_scored"] else 0.0
                )
            elif layer == "operators.dedup":
                lsh = sum(s.rows_out or 0 for s in spans
                          if s.fn == "minhash_lsh_candidates")
                verified = sum(s.rows_out or 0 for s in spans
                               if s.fn == "ngram_jaccard_pairs")
                m["lsh_candidates"] = lsh
                m["verify_precision"] = verified / lsh if lsh else 0.0
            elif layer == "operators.clustering":
                m["jobs"] = st["jobs"]
            elif layer == "streaming.linkage":
                m["batches"] = len(spans)
                # Pairs the batches wrote: what each handed to the store.
                m["rows_out"] = sum(s.rows_in or 0 for s in self.spans
                                    if s.name == "streaming.clustering")
            elif layer == "streaming.clustering":
                # Each batch rewrites the whole store: rows_out is the
                # rows written over all batches, store_rows the final size.
                m["rows_out"] = extras.get("store_rows", 0)
                m["store_rows"] = max(
                    (s.extra.get("store_rows", 0) for s in spans), default=0
                )
                m["store_write_s"] = sum(self.store_write_s(s) for s in spans)
            for k, v in m.items():
                out[f"{layer}.{k}"] = v
        return out

    def store_write_s(self, s: Span) -> float:
        """Time from the label store's components being computed (the
        last child span) to ``apply_cluster_batch`` returning: the store
        write and replace."""
        kids = [c.end for c in self.spans if c.parent == s.id]
        return (s.end - s.book_s) - max(kids) if kids else 0.0

    def attributed(self, start: float, end: float) -> float:
        """Sum of the self times of the spans inside [start, end]."""
        return sum(
            self.self_time(s) for s in self.spans
            if s.start >= start and s.end <= end
        )

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(dict(s.__dict__, self_s=self.self_time(s))) + "\n")


def stage_figures(spark, group: str) -> dict:
    """Figures of the jobs in one job group, from the Spark status store
    (which works with ``spark.ui.enabled=false``)."""
    sc = spark.sparkContext
    tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()
    jobs = list(tracker.getJobIdsForGroup(group))
    stages = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    run_ms = shuffle = spill = failed = 0
    hot = (0, 1.0)  # (run time, max/median task time) of the busiest stage
    q = sc._gateway.new_array(sc._jvm.double, 2)
    q[0], q[1] = 0.5, 1.0
    for sid in stages:
        try:
            sd = store.lastStageAttempt(sid)
        except Py4JJavaError:  # a skipped stage has no attempt
            continue
        run_ms += sd.executorRunTime()
        shuffle += sd.shuffleWriteBytes()
        spill += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        failed += sd.numFailedTasks()
        if sd.executorRunTime() > hot[0] and sd.numTasks() > 1:
            summary = store.taskSummary(sid, sd.attemptId(), q)
            if summary.isDefined():
                rt = summary.get().executorRunTime()
                med, mx = rt.apply(0), rt.apply(1)
                hot = (sd.executorRunTime(), mx / med if med > 0 else 1.0)
    return {
        "jobs": len(jobs),
        "run_s": run_ms / 1000.0,
        "shuffle_write_bytes": shuffle,
        "spill_bytes": spill,
        "failed_tasks": failed,
        "task_skew": hot[1],
    }


def _is_df(x) -> bool:
    from pyspark.sql import DataFrame

    return isinstance(x, DataFrame)


def _lazy(x) -> bool:
    """A DataFrame with work pending: not a checkpoint, a scan or a
    persisted table."""
    if not _is_df(x) or x.is_cached:
        return False
    root = x._jdf.queryExecution().analyzed().getClass().getSimpleName()
    return root not in ("LogicalRDD", "LogicalRelation")


def _checkpoint(x):
    """Run a DataFrame's jobs now; anything else passes through."""
    return x.localCheckpoint(eager=True) if _is_df(x) else x


def _count(x) -> int | None:
    if _is_df(x):
        return x.count()
    if isinstance(x, (list, tuple)) and any(_is_df(v) for v in x):
        return sum(v.count() for v in x if _is_df(v))
    return None
