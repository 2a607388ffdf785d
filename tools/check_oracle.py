"""Local mimic of the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB over the same sf dir,
compare row count, column names, and an order-insensitive value hash.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import sys
import time
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def value_hash(rows: list[tuple], cols: list[str]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    # sort by repr: tuple comparison raises TypeError the moment a
    # nullable column mixes None with values at the first differing
    # position — a crash instead of a FAIL report. repr is totally
    # ordered and both engines go through the same function, so the
    # hash stays engine-symmetric.
    canon = sorted(
        (tuple(_canon(r[i]) for i in order) for r in rows), key=repr
    )
    h = hashlib.sha256()
    for row in canon:
        h.update(repr(row).encode())
    return h.hexdigest()[:16]


def _canon(v):
    import datetime
    import decimal
    import math

    if v is None:
        return None
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, decimal.Decimal):
        return round(float(v), 6)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 6)
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        # Spark collect() yields bytearray, DuckDB bytes: normalize or
        # every BinaryType column is a guaranteed false mismatch
        return bytes(v).hex()
    return v


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from name_matcher_spark.cache import cache_scope
    from name_matcher_spark.session import get_spark

    unknown = only - set(entrymod.queries())
    if unknown:
        # a typo'd name silently matching nothing would print
        # FAILURES: 0 — a false-green gate
        print(f"unknown query names: {sorted(unknown)}", file=sys.stderr)
        return 2

    spark = get_spark(app_name="oracle-check", master="local[8]", shuffle_partitions=16)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            # each query's pins are released once its rows are collected
            with cache_scope():
                sdf = fn(spark, sf_dir)
                scols = sdf.columns
                srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {str(e)[:200]}")
            failures += 1
            continue
        spark_s = time.time() - t0
        if name not in oracles:
            print(f"rows  {name}: {len(srows)} rows ({spark_s:.1f}s) [rows-only]")
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {str(e)[:200]}")
            failures += 1
            continue
        problems = []
        if len(srows) != len(orows):
            problems.append(f"rows {len(srows)} vs {len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"cols {sorted(scols)} vs {sorted(ocols)}")
        if not problems:
            hs = value_hash(srows, scols)
            ho = value_hash(orows, ocols)
            if hs != ho:
                problems.append(f"hash {hs} vs {ho}")
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)} ({spark_s:.1f}s)")
            failures += 1
            _debug_diff(srows, scols, orows, ocols)
        else:
            print(f"ok    {name}: {len(srows)} rows match ({spark_s:.1f}s)")
    print("FAILURES:", failures)
    return 1 if failures else 0


def _debug_diff(srows, scols, orows, ocols):
    so = sorted(range(len(scols)), key=lambda i: scols[i])
    oo = sorted(range(len(ocols)), key=lambda i: ocols[i])
    sset = {tuple(_canon(r[i]) for i in so) for r in srows}
    oset = {tuple(_canon(r[i]) for i in oo) for r in orows}
    only_s = list(sset - oset)[:3]
    only_o = list(oset - sset)[:3]
    if only_s:
        print("   spark-only:", only_s)
    if only_o:
        print("   duck-only :", only_o)


if __name__ == "__main__":
    raise SystemExit(main())
