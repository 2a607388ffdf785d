"""Driver-contract smoke: entry() + registry consistency + a fast
subset of query/oracle pairs compared through DuckDB (the full sweep
lives in tools/check_oracle.py and runs in the driver)."""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as entrymod  # noqa: E402
from name_matcher_spark.cache import cache_scope  # noqa: E402
from tools.check_oracle import TABLES, value_hash  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"cluster_id", "n_members", "n_a", "n_b"}


def test_registry_consistency():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert set(oracles) <= set(qs)
    # since round 3 EVERY registered query carries a DuckDB oracle (the
    # fuzzy ladder via the phonetic-mirror sidecar) — no rows-only rows
    rows_only = set(qs) - set(oracles)
    assert rows_only == set()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


@pytest.mark.parametrize(
    "name",
    ["lk_algo1_pairs", "lk_household_pct", "lk_clusters", "txt_langid",
     "sim_cosine_topk", "lk_fuzzy_pairs", "dd_pipeline", "txt_corpus_e2e"],
)
def test_query_matches_oracle(spark, duck, name):
    # The query's own pins must not outlive the scope around its
    # collect; earlier tests' leftovers are cleared first.
    spark.catalog.clearCache()
    with cache_scope():
        sdf = entrymod.queries()[name](spark, SF_DIR)
        srows = [tuple(r) for r in sdf.collect()]
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    res = duck.execute(entrymod.oracle_sql()[name])
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    assert len(srows) == len(orows)
    assert sorted(sdf.columns) == sorted(ocols)
    assert value_hash(srows, sdf.columns) == value_hash(orows, ocols)
