"""Seeded inputs, the timed operation and the correctness gate of each
workload.

A workload is a closed loop: one client runs one operation at a time.
Its inputs are parquet tables generated from ``--seed`` and cached per
(workload, seed, size) in the data directory; the program reads only
those tables.

* ``link_batch_stream`` runs ``plans.pipeline.run_linkage`` over pages
  built from the reference's dirty corpus (``make_dirty`` +
  ``make_pages``) plus a seeded pile-up on one blocking key, larger than
  the pipeline's default ``max_block_rows``, so the hot-block
  refinement runs. Then the side-A pages held out of the batch arrive
  as a stream: ``streaming.linkage.incremental_linkage`` drains them,
  one file per trigger, against the run's prepared side B without the
  pile-up, writing a pairs sink and a cluster label store.
* ``crawl_dedup`` runs the registry's ``harness.wp_crawl_e2e`` over
  seeded ``customer``/``orders``-shaped tables.

Each gate checks the program's output against a reference that is not
the engine: the pure-Python ladder and a Python union-find for
``link_batch_stream``, the registry's DuckDB SQL for ``crawl_dedup``.
``link_batch_stream`` also requires the union of the stream's batch
pairs to equal one batch ``match_fuzzy`` over the same inputs.
"""

from __future__ import annotations

import json
import os
import random
import shutil
from dataclasses import dataclass
from datetime import date, timedelta
from typing import Callable

LINK_SIZE = 2000  # make_dirty(size): side A and side B rows before the pile-up
LATE_EVERY = 5  # side-A persons with id % LATE_EVERY == 0 arrive by stream
LATE_FILES = 2  # files of late pages, one micro-batch each
HOT_B_ROWS = 10_200  # > LinkageConfig.max_block_rows (10,000)
HOT_A_ROWS = 40
HOT_DAYS = 28  # birthdates of both piles fall in one 4-week window
HOT_FIRST = [
    "James", "John", "Joseph", "Jennifer", "Jessica", "Joshua", "Jacob",
    "Julia", "Justin", "Janet", "Jordan", "Jerome", "Joyce", "Juan",
]
HOT_LAST = ["Smith", "Smyth", "Smithe", "Smitt"]  # one soundex code, S530
# Recall of the emitted pairs (batch and stream) against make_dirty's
# labeled pairs. Measured 0.53-0.66 over seeds 1-60 at LINK_SIZE (the
# labels include pairs with a typo on both sides, which blocking can
# miss); the floor sits below that spread so that only a real loss of
# matches trips it.
RECALL_FLOOR = 0.50

# About 6,100 crawl docs. Past the operation's fixed cost (plan
# compiling, JIT, many small jobs; about 23 s on 4 cores) the dedup tiers
# carry it, and it spreads about half as much across seeds as at 1,000
# customers (README.md, Sizes).
CRAWL_CUSTOMERS = 5000
CRAWL_ORDERS = 5000

CLUSTER_THRESHOLD = 0.95  # LinkageConfig.cluster_threshold


@dataclass
class Inputs:
    dir: str
    tables: dict[str, str]  # table name -> parquet path
    rows: int  # input records of one operation
    bytes: int


def dir_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path)
        for f in files
    )


def _write_parquet(df, path: str) -> None:
    # Spark reads only microsecond timestamps.
    df.to_parquet(path, index=False, coerce_timestamps="us")


def _hot_pile(seed: int, n: int, first_id: int, year: int) -> "pd.DataFrame":
    """``n`` person rows on one blocking key (``year``, 'J', 'S', S530)
    with varied first names, so the refinement by soundex4(first name)
    splits the block. Birthdates fall in ``HOT_DAYS`` days, so the
    birthdate gate lets a share of the block's candidates through to
    scoring."""
    import pandas as pd

    rng = random.Random(seed)
    rows = [
        {
            "id": first_id + i,
            "uuid": f"H-{first_id + i:08d}",
            "first_name": rng.choice(HOT_FIRST),
            "middle_name": None,
            "last_name": rng.choice(HOT_LAST),
            "birthdate": date(year, 1, 1) + timedelta(days=rng.randrange(HOT_DAYS)),
            "hh_id": None,
        }
        for i in range(n)
    ]
    return pd.DataFrame(rows).astype({"middle_name": object, "hh_id": object})


def _gen_link(seed: int, d: str) -> dict[str, str]:
    import pandas as pd

    from name_matcher_spark.fixtures.pages import make_pages
    from name_matcher_spark.fixtures.persons import make_dirty

    a, b, labeled = make_dirty(LINK_SIZE, seed=seed)
    late = a[a["id"] % LATE_EVERY == 0]
    a = a[a["id"] % LATE_EVERY != 0]
    # One blocking key for both piles: the side-A pile probes the hot
    # side-B block.
    year = 1950 + random.Random(seed).randrange(61)
    a = pd.concat([a, _hot_pile(seed, HOT_A_ROWS, LINK_SIZE + 1, year)], ignore_index=True)
    b = pd.concat(
        [b, _hot_pile(seed + 1, HOT_B_ROWS, LINK_SIZE + 1, year)], ignore_index=True
    )
    tables = {
        "pages_a": os.path.join(d, "pages_a.parquet"),
        "pages_b": os.path.join(d, "pages_b.parquet"),
        "late_a": os.path.join(d, "late_a"),
    }
    for name, persons, tag in (("pages_a", a, "a"), ("pages_b", b, "b")):
        pages = make_pages(persons, tag).drop(columns=["expected_entity"])
        _write_parquet(pages, tables[name])
    late_pages = make_pages(late, "a").drop(columns=["expected_entity"])
    os.makedirs(tables["late_a"])
    step = -(-len(late_pages) // LATE_FILES)
    for i in range(LATE_FILES):
        path = os.path.join(tables["late_a"], f"part-{i:05d}.parquet")
        _write_parquet(late_pages.iloc[i * step:(i + 1) * step], path)
        # Distinct modification times: the file source takes files in
        # that order.
        os.utime(path, (1_700_000_000 + i,) * 2)
    labeled[["id_a", "id_b"]].to_parquet(os.path.join(d, "labeled.parquet"))
    return tables


def _gen_crawl_dedup(seed: int, d: str) -> dict[str, str]:
    import pandas as pd

    rng = random.Random(seed)
    custkeys = sorted(rng.sample(range(1, 20 * CRAWL_CUSTOMERS), CRAWL_CUSTOMERS))
    orderkeys = sorted(rng.sample(range(1, 40 * CRAWL_ORDERS), CRAWL_ORDERS))
    customer = pd.DataFrame({"c_custkey": pd.array(custkeys, dtype="int64")})
    orders = pd.DataFrame(
        {
            "o_orderkey": pd.array(orderkeys, dtype="int64"),
            "o_custkey": pd.array(
                [rng.choice(custkeys) for _ in orderkeys], dtype="int64"
            ),
        }
    )
    tables = {
        "customer": os.path.join(d, "customer.parquet"),
        "orders": os.path.join(d, "orders.parquet"),
    }
    _write_parquet(customer, tables["customer"])
    _write_parquet(orders, tables["orders"])
    return tables


def _parquet_files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    return sorted(
        os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")
    )


def make_inputs(workload: str, seed: int, data_root: str) -> Inputs:
    """Generate (or reuse) the workload's tables for ``seed``."""
    wl = WORKLOADS[workload]
    d = os.path.join(data_root, f"{workload}-seed{seed}-size{wl.size}")
    meta_path = os.path.join(d, "meta.json")
    if not os.path.exists(meta_path):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        tables = wl.generate(seed, tmp)
        import pyarrow.parquet as pq

        meta = {
            "tables": {k: os.path.basename(v) for k, v in tables.items()},
            "rows": sum(
                pq.read_metadata(f).num_rows
                for p in tables.values()
                for f in _parquet_files(p)
            ),
            "bytes": sum(dir_bytes(p) for p in tables.values()),
        }
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump(meta, f)
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    with open(meta_path) as f:
        meta = json.load(f)
    return Inputs(
        dir=d,
        tables={k: os.path.join(d, v) for k, v in meta["tables"].items()},
        rows=meta["rows"],
        bytes=meta["bytes"],
    )


# --- operations -------------------------------------------------------------


def read_tables(spark, paths: list[str]):
    """The scan of the generated input tables."""
    return [spark.read.parquet(p) for p in paths]


def _op_link(spark, inputs: Inputs, work: str, tr=None) -> dict:
    from name_matcher_spark.plans import pipeline
    from name_matcher_spark.streaming import linkage

    read = tr.wrap("sources", read_tables) if tr else read_tables
    pages_a, pages_b = read(spark, [inputs.tables["pages_a"], inputs.tables["pages_b"]])
    staged = pipeline.run_linkage(
        spark, work, pages_a=pages_a, pages_b=pages_b, force=True
    )
    outputs = {stage: os.path.join(work, stage) for stage in _LINK_OUTPUTS}
    outputs.update(
        pairs_late=os.path.join(work, "pairs_late"),
        labels_late=os.path.join(work, "labels_late"),
    )
    late = (
        spark.readStream.schema(pages_a.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(inputs.tables["late_a"])
    )
    ref = _stream_side_b(staged["prepare_b"])
    q = linkage.incremental_linkage(
        late, ref, outputs["pairs_late"], os.path.join(work, "stream_checkpoint"),
        cluster_labels_dir=outputs["labels_late"],
    )
    try:
        q.awaitTermination()
    finally:
        q.stop()
        ref.unpersist()
    return outputs


def _op_crawl_dedup(spark, inputs: Inputs, work: str, tr=None) -> dict:
    from name_matcher_spark import harness

    out = os.path.join(work, "crawl")
    harness.wp_crawl_e2e(spark, inputs.dir).write.parquet(out)
    return {"crawl": out}


_LINK_OUTPUTS = ("pairs_fuzzy", "households", "clusters")


def _stream_side_b(prepared_b):
    """The reference the stream probes: side B without the pile-up (ids
    above LINK_SIZE), so the stream has no hot key and its cost is the
    per-batch cost of the streaming layers."""
    return prepared_b.filter(prepared_b["id"] <= LINK_SIZE)


# --- output hashes and gates ------------------------------------------------


def _rows(spark, path: str) -> tuple[list[str], list[tuple]]:
    df = spark.read.parquet(path)
    return df.columns, [tuple(r) for r in df.collect()]


def output_hash(spark, outputs: dict) -> str:
    """Order-insensitive hash of every output table of one operation."""
    from check_oracle import value_hash

    parts = []
    for name, path in sorted(outputs.items()):
        cols, rows = _rows(spark, path)
        parts.append(f"{name}:{value_hash(rows, cols)}")
    return ",".join(parts)


_PAIR_COLS = (
    "id_1", "id_2", "first_name_1", "middle_name_1", "last_name_1",
    "first_name_2", "middle_name_2", "last_name_2", "score", "match_case",
    "confidence",
)


def _rescore(pairs) -> list[str]:
    """Every pair's label and score must agree with the pure-Python
    ladder on the normalized names."""
    from name_matcher_spark.functions.fuzzy import fuzzy_compare_py
    from name_matcher_spark.functions.normalize import strip_diacritics_lower_trim

    norm = strip_diacritics_lower_trim
    bad = 0
    for p in pairs:
        ref = fuzzy_compare_py(
            norm(p.first_name_1), norm(p.middle_name_1), norm(p.last_name_1),
            norm(p.first_name_2), norm(p.middle_name_2), norm(p.last_name_2),
            include_middle=False,
        )
        if ref is None or ref[1] != p.match_case or abs(ref[0] - p.score) > 1e-6:
            bad += 1
    return [f"{bad}/{len(pairs)} pairs disagree with fuzzy_compare_py"] if bad else []


def _union_find_clusters(pairs) -> set[tuple]:
    """(side, id, cluster_id) rows by the cluster_pairs contract: node
    a:id -> 2*id, b:id -> 2*id+1; a cluster is a connected component of
    the pairs at or above the threshold, labelled by its minimum node."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for p in pairs:
        if p.confidence >= CLUSTER_THRESHOLD:
            ra, rb = find(2 * p.id_1), find(2 * p.id_2 + 1)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    return {("a" if n % 2 == 0 else "b", n // 2, find(n)) for n in list(parent)}


def _cluster_problems(df, pairs) -> list[str]:
    got = {tuple(r) for r in df.select("side", "id", "cluster_id").collect()}
    want = _union_find_clusters(pairs)
    if got != want:
        return [f"clusters differ from union-find: {len(got ^ want)} rows"]
    return []


def _gate_link(spark, inputs: Inputs, outputs: dict) -> tuple[list[str], dict]:
    """Batch: every pair re-scored, the clusters equal a union-find over
    the pairs. Stream: every pair re-scored; the union of the batches'
    pairs equals one batch ``match_fuzzy`` of the late pages against
    the same prepared side B as the stream; the label store equals a union-find over that union (the
    invariant streaming.clustering documents). Both: recall against the
    labeled pairs."""
    import pyarrow.parquet as pq

    from name_matcher_spark.operators.extract import extract_entities
    from name_matcher_spark.operators.fuzzy_join import match_fuzzy
    from name_matcher_spark.operators.prepare import prepare_persons
    from name_matcher_spark.sources.checkpoint import StageCheckpoint
    from name_matcher_spark.streaming.clustering import read_clusters

    pairs = spark.read.parquet(outputs["pairs_fuzzy"]).select(*_PAIR_COLS).collect()
    problems = _rescore(pairs)
    problems += _cluster_problems(spark.read.parquet(outputs["clusters"]), pairs)

    late_a = prepare_persons(
        extract_entities(spark.read.parquet(inputs.tables["late_a"]))
        .withColumnRenamed("url", "uuid"),
        include_middle=False,
    )
    side_b = _stream_side_b(
        StageCheckpoint(spark, os.path.dirname(outputs["pairs_fuzzy"])).read("prepare_b")
    )
    key = ("id_1", "id_2", "match_case", "score")
    batch = match_fuzzy(late_a, side_b, include_middle=False)
    want = {tuple(r) for r in batch.select(*key).collect()}
    spark.catalog.clearCache()  # match_fuzzy's pinned tables
    late = spark.read.parquet(outputs["pairs_late"]).select(*_PAIR_COLS).collect()
    got = [tuple(getattr(p, k) for k in key) for p in late]
    problems += _rescore(late)
    if len(got) != len(set(got)) or set(got) != want:
        problems.append(
            f"stream pairs ({len(got)}) differ from batch match_fuzzy ({len(want)}):"
            f" {len(set(got) ^ want)} pairs"
        )
    problems += _cluster_problems(read_clusters(spark, outputs["labels_late"]), late)

    labeled = pq.read_table(os.path.join(inputs.dir, "labeled.parquet")).to_pylist()
    truth = {(r["id_a"], r["id_b"]) for r in labeled}
    found = {(p.id_1, p.id_2) for p in pairs + late}
    recall = len(truth & found) / len(truth)
    if recall < RECALL_FLOOR:
        problems.append(f"recall {recall:.4f} < floor {RECALL_FLOOR}")
    return problems, {"pairs": len(pairs), "pairs_late": len(late), "recall": recall}


def _crawl_oracle_hash(inputs: Inputs) -> tuple[int, str]:
    """Row count and value hash of the registry's DuckDB crawl SQL."""
    import duckdb
    from check_oracle import value_hash

    from name_matcher_spark.harness import WP_CRAWL_SQL

    con = duckdb.connect()
    try:
        for name, path in inputs.tables.items():
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
            )
        res = con.execute(WP_CRAWL_SQL)
        cols = [d[0] for d in res.description]
        rows = res.fetchall()
    finally:
        con.close()
    return len(rows), value_hash(rows, cols)


def _gate_crawl_dedup(spark, inputs: Inputs, outputs: dict) -> tuple[list[str], dict]:
    from check_oracle import value_hash

    n_want, h_want = _crawl_oracle_hash(inputs)
    cols, rows = _rows(spark, outputs["crawl"])
    h_got = value_hash(rows, cols)
    problems = []
    if (len(rows), h_got) != (n_want, h_want):
        problems.append(
            f"crawl output {len(rows)} rows/{h_got} vs DuckDB {n_want}/{h_want}"
        )
    return problems, {"rows": len(rows)}


@dataclass
class Workload:
    size: int  # part of the input cache key
    generate: Callable
    op: Callable
    gate: Callable


WORKLOADS = {
    "link_batch_stream": Workload(LINK_SIZE, _gen_link, _op_link, _gate_link),
    "crawl_dedup": Workload(
        CRAWL_CUSTOMERS, _gen_crawl_dedup, _op_crawl_dedup, _gate_crawl_dedup
    ),
}
