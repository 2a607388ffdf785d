"""Driver-contract query registry: paired (Spark DataFrame, DuckDB SQL)
implementations of every operator family in SURVEY.md §2.

Each `q_*` Spark callable takes (spark, sf_dir) and runs against the
driver's parquet tables; `ORACLES[name]` is the ANSI-SQL equivalent
DuckDB runs on the same tables. Column names and float rounding are
aligned on both sides so the driver's order-insensitive value-hash
comparison holds.

The linkage queries derive deterministic person tables from customer/
orders (ASCII name pools indexed by key arithmetic — expressible
identically in both dialects) and then run the REAL engine operators
(prepare_persons, match_algo1/2, match_fuzzy, households_option5,
cluster_pairs) on the Spark side.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .cache import cache_scope, pin
from .functions.similarity import jw_pct_expr, lev_pct_col
from .operators.clustering import cluster_pairs
from .operators.dedup import (
    exact_duplicates,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    simhash_near_dupes,
)
from .operators.exact import match_algo1, match_algo2
from .operators.fuzzy_join import match_fuzzy
from .operators.household import households_option5
from .operators.multimodal import extract_media_features
from .operators.prepare import prepare_persons
from .operators.simsearch import cosine_topk, lsh_cosine_topk
from .operators.text import LANG_MARKERS, lang_id, quality_metrics, token_count

# ---------------------------------------------------------------------------
# Shared derivation constants (single source of truth for both dialects)
# ---------------------------------------------------------------------------

# ASCII-only pools: normalize_text == lower() on these, which keeps the
# DuckDB oracle expressible while the Spark side still runs the full
# diacritic-stripping UDF path.
FIRST_POOL = [
    "James", "Mary", "Robert", "Patricia", "John", "Jennifer", "Michael",
    "Linda", "William", "Elizabeth", "David", "Barbara", "Richard", "Susan",
    "Joseph", "Jessica", "Thomas", "Sarah", "Charles", "Karen", "Daniel",
    "Nancy", "Matthew", "Lisa", "Anthony", "Betty", "Mark", "Margaret",
    "Donald", "Sandra", "Steven", "Ashley", "Paul", "Kimberly", "Andrew",
    "Emily", "Joshua", "Donna", "Kevin", "Michelle",
]
LAST_POOL = [
    "Smith", "Johnson", "Williams", "Brown", "Jones", "Garcia", "Miller",
    "Davis", "Rodriguez", "Martinez", "Hernandez", "Lopez", "Gonzalez",
    "Wilson", "Anderson", "Thomas", "Taylor", "Moore", "Jackson", "Martin",
    "Lee", "Perez", "Thompson", "White", "Harris", "Sanchez", "Clark",
    "Ramirez", "Lewis", "Robinson", "Walker", "Young", "Allen", "King",
    "Wright", "Scott", "Torres", "Nguyen", "Hill", "Flores",
]
MIDDLE_POOL = [
    "Lee", "Ann", "Marie", "Lynn", "Ray", "Mae", "Jo", "Jay", "Kim", "Sue",
    "Ana", "Bo", "Cy", "Dee", "Eve", "Fay", "Gil", "Hal", "Ivy", "Kay",
]

N_FIRST, N_LAST, N_MID = len(FIRST_POOL), len(LAST_POOL), len(MIDDLE_POOL)


import contextlib


@contextlib.contextmanager
def _stream_workdir(prefix: str):
    """Self-cleaning work dir for the streaming harness queries: the
    corpus copy + store + checkpoint are removed on success AND on any
    failure inside the block (a failing sweep must not leak under
    /tmp). Callers must MATERIALIZE (localCheckpoint / eager read)
    anything they return — lazy plans over the dir would scan after
    removal."""
    import shutil
    import tempfile

    work = tempfile.mkdtemp(prefix=prefix)
    try:
        yield work
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _sql_list(pool: list[str]) -> str:
    return "[" + ",".join("'" + p + "'" for p in pool) + "]"


# --- derived person tables --------------------------------------------------

PERSONS_A_SQL = f"""
SELECT
  c_custkey AS id,
  'U' || CAST(c_custkey % 700 AS VARCHAR) AS uuid,
  ({_sql_list(FIRST_POOL)})[CAST((c_custkey * 7) % {N_FIRST} AS INT) + 1] AS first_name,
  CASE WHEN c_custkey % 3 = 0
       THEN ({_sql_list(MIDDLE_POOL)})[CAST((c_custkey * 11) % {N_MID} AS INT) + 1]
       ELSE NULL END AS middle_name,
  ({_sql_list(LAST_POOL)})[CAST((c_custkey * 13) % {N_LAST} AS INT) + 1] AS last_name,
  DATE '1950-01-01' + CAST((c_custkey * 37) % 20000 AS INT) AS birthdate,
  CAST(NULL AS VARCHAR) AS hh_id
FROM customer
"""

# persons_b derives its name fields from o_custkey (so matches against
# persons_a exist, with realistic per-customer multiplicity/skew) and
# injects deterministic variation: every 7th order gets a typo'd first
# name, every 5th drops the middle name.
PERSONS_B_SQL = f"""
SELECT
  o_orderkey AS id,
  'V' || CAST(o_orderkey AS VARCHAR) AS uuid,
  CASE WHEN o_orderkey % 7 = 0
       THEN substr(base_first, 1, 1) || 'x' || substr(base_first, 3)
       ELSE base_first END AS first_name,
  CASE WHEN o_orderkey % 5 = 0 THEN NULL ELSE base_middle END AS middle_name,
  ({_sql_list(LAST_POOL)})[CAST((o_custkey * 13) % {N_LAST} AS INT) + 1] AS last_name,
  DATE '1950-01-01' + CAST((o_custkey * 37) % 20000 AS INT) AS birthdate,
  'H' || CAST(o_custkey % 350 AS VARCHAR) AS hh_id
FROM (
  SELECT o_orderkey, o_custkey,
    ({_sql_list(FIRST_POOL)})[CAST((o_custkey * 7) % {N_FIRST} AS INT) + 1] AS base_first,
    CASE WHEN o_custkey % 3 = 0
         THEN ({_sql_list(MIDDLE_POOL)})[CAST((o_custkey * 11) % {N_MID} AS INT) + 1]
         ELSE NULL END AS base_middle
  FROM orders
) o
"""


def _pool_at(pool: list[str], idx_col) -> F.Column:
    return F.element_at(F.array(*[F.lit(p) for p in pool]), idx_col + 1)


def persons_a(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Ingest fan-out: single small parquet files scan as ONE partition,
    # which would serialize every downstream UDF projection. One cheap
    # shuffle here parallelizes the whole prepare stage. (At real crawl
    # scale the source has thousands of splits and this is a no-op
    # cost-wise relative to the pipeline.)
    c = spark.read.parquet(f"{sf_dir}/customer.parquet").repartition(
        spark.sparkContext.defaultParallelism
    )
    k = F.col("c_custkey").cast("long")
    return c.select(
        k.alias("id"),
        F.concat(F.lit("U"), (k % 700).cast("string")).alias("uuid"),
        _pool_at(FIRST_POOL, ((k * 7) % N_FIRST).cast("int")).alias("first_name"),
        F.when(
            k % 3 == 0, _pool_at(MIDDLE_POOL, ((k * 11) % N_MID).cast("int"))
        ).alias("middle_name"),
        _pool_at(LAST_POOL, ((k * 13) % N_LAST).cast("int")).alias("last_name"),
        F.date_add(F.to_date(F.lit("1950-01-01")), ((k * 37) % 20000).cast("int")).alias(
            "birthdate"
        ),
        F.lit(None).cast("string").alias("hh_id"),
    )


def persons_b(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").repartition(
        spark.sparkContext.defaultParallelism
    )
    ok = F.col("o_orderkey").cast("long")
    ck = F.col("o_custkey").cast("long")
    base_first = _pool_at(FIRST_POOL, ((ck * 7) % N_FIRST).cast("int"))
    base_middle = F.when(
        ck % 3 == 0, _pool_at(MIDDLE_POOL, ((ck * 11) % N_MID).cast("int"))
    )
    return o.select(
        ok.alias("id"),
        F.concat(F.lit("V"), ok.cast("string")).alias("uuid"),
        F.when(
            ok % 7 == 0,
            F.concat(
                F.substring(base_first, 1, 1),
                F.lit("x"),
                base_first.substr(F.lit(3), F.length(base_first)),
            ),
        )
        .otherwise(base_first)
        .alias("first_name"),
        F.when(ok % 5 == 0, F.lit(None).cast("string"))
        .otherwise(base_middle)
        .alias("middle_name"),
        _pool_at(LAST_POOL, ((ck * 13) % N_LAST).cast("int")).alias("last_name"),
        F.date_add(F.to_date(F.lit("1950-01-01")), ((ck * 37) % 20000).cast("int")).alias(
            "birthdate"
        ),
        F.concat(F.lit("H"), (ck % 350).cast("string")).alias("hh_id"),
    )


# ---------------------------------------------------------------------------
# Phonetic sidecar: per-string soundex4 / Double Metaphone codes from the
# GOLDEN-TESTED PYTHON MIRRORS (functions/phonetic.py — validated against
# commons-codec vectors and differential-tested against the JVM kernels),
# written as tiny parquet maps the DuckDB oracle joins. This makes the whole
# fuzzy ladder — cascade, birthdate gate, byte-denominator Levenshtein, JW,
# CASE 1/2/3, score arithmetic — hash-checkable, with the phonetic codes the
# only taken-as-given inputs (reference semantics: mod.rs:101-141).
#
# The maps are pure string->code functions, so entries from different scale
# factors merge harmlessly; size is bounded by the DISTINCT name pool (a few
# thousand strings), not the row count.
# ---------------------------------------------------------------------------

# In-repo so the pre-generated maps for the driver's test scales ship
# with the code (the oracle SQL must be able to run even if the driver
# evaluates it before the Spark twin of a fuzzy query has executed);
# ensure_phonetic_sidecar still merges in any unseen names at runtime.
#
# Resolution order (the oracle SQL bakes this path at import time):
#   1. $NMS_SIDECAR_DIR — explicit override for deploys.
#   2. The in-repo ../.oracle_sidecar — only when it is a REAL
#      directory: under the spark-submit --py-files contract __file__
#      points inside nms.zip, where isdir() is False and makedirs /
#      read_parquet would both fail.
#   3. $CWD/.oracle_sidecar — the zip-deploy fallback; regenerated
#      from the golden-tested Python mirrors on first use.
import os as _os


def _resolve_sidecar_dir() -> str:
    env = _os.environ.get("NMS_SIDECAR_DIR")
    if env:
        return _os.path.abspath(env)
    in_repo = _os.path.abspath(
        _os.path.join(_os.path.dirname(__file__), "..", ".oracle_sidecar")
    )
    if _os.path.isdir(_os.path.dirname(in_repo)):
        return in_repo
    return _os.path.abspath(_os.path.join(_os.getcwd(), ".oracle_sidecar"))


SIDECAR_DIR = _resolve_sidecar_dir()
_SIDECAR_READY: set[str] = set()


def ensure_phonetic_sidecar(spark: SparkSession, sf_dir: str) -> None:
    """Write/refresh {SIDECAR_DIR}/{soundex4,dmeta}.parquet for the
    distinct names of this sf's person tables. Idempotent per process.

    The per-name phonetic computation (the expensive part — Double
    Metaphone over every distinct full-name variant) runs DISTRIBUTED:
    the same CPython mirrors the oracle contract requires, Arrow-
    batched inside mapInPandas, deduplicated executor-side per batch
    and again by one Spark distinct. The driver only streams the final
    (map, key, code) rows via toLocalIterator into the single-file
    pyarrow write — O(one partition) peak beyond the output table
    itself, which is exactly the bytes DuckDB will read back. Output is
    byte-identical to the old driver-side build (same sorted keys, same
    codes, same writer)."""
    if sf_dir in _SIDECAR_READY:
        return
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    names = (
        persons_a(spark, sf_dir)
        .select("first_name", "middle_name", "last_name")
        .unionByName(
            persons_b(spark, sf_dir).select(
                "first_name", "middle_name", "last_name"
            )
        )
        .distinct()
    )

    def gen(batches):
        import pandas as _pd  # worker-side

        from name_matcher_spark.functions.normalize import (
            normalize_for_phonetic_py,
            normalize_simple_py,
            strip_diacritics_lower_trim,
        )
        from name_matcher_spark.functions.phonetic import (
            double_metaphone,
            soundex4,
        )

        for pdf in batches:
            rows: list[tuple[str, str, str]] = []
            seen: set[tuple[str, str]] = set()
            for f_, m_, l_ in zip(
                pdf["first_name"], pdf["middle_name"], pdf["last_name"]
            ):
                nf = strip_diacritics_lower_trim(f_ if isinstance(f_, str) else None) or ""
                nm = strip_diacritics_lower_trim(m_ if isinstance(m_, str) else None)
                nl = strip_diacritics_lower_trim(l_ if isinstance(l_, str) else None) or ""
                if ("sx", nl) not in seen:
                    seen.add(("sx", nl))
                    rows.append(("sx", nl, soundex4(nl)))
                for full in (
                    normalize_simple_py(f"{nf} {nl}"),
                    normalize_simple_py(f"{nf} {nm or ''} {nl}"),
                ):
                    if ("dm", full) not in seen:
                        seen.add(("dm", full))
                        rows.append(
                            ("dm", full, double_metaphone(normalize_for_phonetic_py(full)))
                        )
            yield _pd.DataFrame(rows, columns=["map", "key", "code"])

    pairs = names.mapInPandas(gen, "map string, key string, code string").distinct()
    sx: dict[str, str] = {}
    dm: dict[str, str] = {}
    for row in pairs.toLocalIterator():
        (sx if row.map == "sx" else dm)[row.key] = row.code

    os.makedirs(SIDECAR_DIR, exist_ok=True)
    for fname, mapping in (("soundex4.parquet", sx), ("dmeta.parquet", dm)):
        path = os.path.join(SIDECAR_DIR, fname)
        if os.path.exists(path):
            old = pq.read_table(path)
            merged = dict(zip(old["key"].to_pylist(), old["code"].to_pylist()))
            before = dict(merged)
            merged.update(mapping)
            if merged == before:
                # No new names at this scale — skip the rewrite so the
                # tracked in-repo copies stay byte-stable across runs
                # (pyarrow metadata would otherwise dirty the work tree
                # on every oracle evaluation).
                continue
        else:
            merged = mapping
        keys = sorted(merged)
        table = pa.table(
            {"key": keys, "code": [merged[k] for k in keys]}
        )
        tmp = path + ".tmp"
        pq.write_table(table, tmp)
        os.replace(tmp, path)
    _SIDECAR_READY.add(sf_dir)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Same ingest fan-out rationale as persons_a: shingling explodes
    # each doc 100-200x, so scan partitioning must not serialize it.
    return spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(
        spark.sparkContext.defaultParallelism
    )


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# A. Relational core
# ---------------------------------------------------------------------------


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-side filter + hash agg. Decimal sums keep
    the oracle hash-stable."""
    li = _read(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,4)")  # noqa: E731
    disc = dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - dec("l_discount"))
    out = (
        li.filter(F.to_date("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(disc).cast("double").alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
    )
    return out.select(
        "l_returnflag",
        "l_linestatus",
        F.round("sum_qty", 2).alias("sum_qty"),
        F.round("sum_base_price", 2).alias("sum_base_price"),
        F.round("sum_disc_price", 2).alias("sum_disc_price"),
        "count_order",
    )


Q_PRICING_SQL = """
SELECT l_returnflag, l_linestatus,
  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_qty,
  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_base_price,
  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE), 2) AS sum_disc_price,
  count(*) AS count_order
FROM lineitem
WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join + agg + deterministic top-10."""
    c = _read(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _read(spark, sf_dir, "orders").filter(
        F.to_date("o_orderdate") < F.lit("1998-03-15")
    )
    li = _read(spark, sf_dir, "lineitem").filter(
        F.to_date("l_shipdate") > F.lit("1995-03-15")
    )
    dec = lambda c_: F.col(c_).cast("decimal(18,4)")  # noqa: E731
    rev = dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - dec("l_discount"))
    joined = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("l_orderkey", F.to_date("o_orderdate").alias("o_orderdate"))
        .agg(F.sum(rev).alias("rev_dec"))
    )
    return (
        joined.orderBy(F.desc("rev_dec"), F.asc("l_orderkey"))
        .limit(10)
        .select(
            "l_orderkey",
            F.round(F.col("rev_dec").cast("double"), 2).alias("revenue"),
            "o_orderdate",
        )
    )


Q_SHIPPING_SQL = """
SELECT l_orderkey,
  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE), 2) AS revenue,
  CAST(o_orderdate AS DATE) AS o_orderdate
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND CAST(o_orderdate AS DATE) < DATE '1998-03-15'
  AND CAST(l_shipdate AS DATE) > DATE '1995-03-15'
GROUP BY l_orderkey, CAST(o_orderdate AS DATE)
ORDER BY sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) DESC, l_orderkey
LIMIT 10
"""


def q_top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window ranking: top-3 orders per customer by total price."""
    o = _read(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rank")
    )


Q_TOP_ORDERS_SQL = """
SELECT o_custkey, o_orderkey, o_totalprice, rank FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rank
  FROM orders
) WHERE rank <= 3
"""


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregate (the batch mirror of the Structured
    Streaming pipeline in streaming/events.py)."""
    e = _read(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_trunc("hour", "ts").alias("hour"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 4).alias("sum_value"),
        )
    )


Q_EVENTS_HOURLY_SQL = """
SELECT date_trunc('hour', ts) AS hour, event_type,
  count(*) AS n_events,
  round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS sum_value
FROM events GROUP BY 1, 2
"""


def q_events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via lag + cumulative sum (30-min gap)."""
    e = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    with_flag = e.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > 1800), 1).otherwise(0),
    )
    with_sess = with_flag.withColumn(
        "session_id", F.sum("new_session").over(w)
    )
    return (
        with_sess.groupBy("user_id")
        .agg(
            F.max("session_id").alias("n_sessions"),
            F.count("*").alias("n_events"),
        )
    )


Q_EVENTS_SESSIONS_SQL = """
WITH flagged AS (
  SELECT user_id, event_id, ts,
    CASE WHEN lag(ts) OVER w IS NULL
           OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
         THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id,
    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS session_id
  FROM flagged
)
SELECT user_id, CAST(max(session_id) AS BIGINT) AS n_sessions, count(*) AS n_events
FROM sess GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# B. Linkage
# ---------------------------------------------------------------------------


def lk_persons_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The derived person table itself — pins the derivation parity
    every other linkage oracle depends on."""
    return persons_a(spark, sf_dir)


def lk_algo1_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    pa = prepare_persons(persons_a(spark, sf_dir))
    pb = prepare_persons(persons_b(spark, sf_dir))
    return match_algo1(pa, pb).select("id_1", "id_2")


LK_ALGO1_SQL = f"""
WITH pa AS ({PERSONS_A_SQL}), pb AS ({PERSONS_B_SQL})
SELECT a.id AS id_1, b.id AS id_2
FROM pa a JOIN pb b
  ON lower(a.first_name) = lower(b.first_name)
 AND lower(a.last_name) = lower(b.last_name)
 AND a.birthdate = b.birthdate
"""


def lk_algo2_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    pa = prepare_persons(persons_a(spark, sf_dir))
    pb = prepare_persons(persons_b(spark, sf_dir))
    return match_algo2(pa, pb).select("id_1", "id_2")


LK_ALGO2_SQL = f"""
WITH pa AS ({PERSONS_A_SQL}), pb AS ({PERSONS_B_SQL})
SELECT a.id AS id_1, b.id AS id_2
FROM pa a JOIN pb b
  ON lower(a.first_name) = lower(b.first_name)
 AND lower(a.last_name) = lower(b.last_name)
 AND a.birthdate = b.birthdate
 AND lower(a.middle_name) IS NOT DISTINCT FROM lower(b.middle_name)
"""


def lk_blocking_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-key generation + per-block sizes (skew visibility)."""
    pa = prepare_persons(persons_a(spark, sf_dir))
    return (
        pa.groupBy("birth_year", "first_initial", "last_initial")
        .agg(F.count("*").alias("block_rows"))
    )


_INIT_SQL = (
    "coalesce(nullif(upper(regexp_extract(strip_accents({col}), '[a-zA-Z]')), ''), '?')"
)

# Initials via _INIT_SQL (first ALPHABETIC char of the accent-stripped
# name, '?' fallback) — the exact mirror of prepare.first_alpha_initial;
# a bare upper(substr(name,1,1)) diverges on names starting with a
# diacritic, apostrophe, or digit.
LK_BLOCKING_SQL = f"""
WITH pa AS ({PERSONS_A_SQL})
SELECT CAST(year(birthdate) AS INT) AS birth_year,
  {_INIT_SQL.format(col="first_name")} AS first_initial,
  {_INIT_SQL.format(col="last_name")} AS last_initial,
  count(*) AS block_rows
FROM pa GROUP BY 1, 2, 3
"""


def lk_blocking_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-strategy evaluation (operators/blocking_eval.py):
    candidate volume, truth recall, and cross-product reduction per
    strategy, with Algo-1 pairs as the labeled truth. The two
    SQL-expressible strategies are oracle-checked; bkey_exact (custom
    soundex in the key) is covered by pytest."""
    from .operators.blocking_eval import blocking_quality

    pa = prepare_persons(persons_a(spark, sf_dir))
    pb = prepare_persons(persons_b(spark, sf_dir))
    truth = match_algo1(pa, pb).select("id_1", "id_2")
    return blocking_quality(
        pa, pb, truth, strategies=("birthdate", "year_initials", "token_prefix")
    )


LK_BLOCKING_QUALITY_SQL = f"""
WITH pa AS ({{pa}}), pb AS ({{pb}}),
ka AS (
  SELECT id AS id_1, birthdate, CAST(year(birthdate) AS INT) AS by,
    {_INIT_SQL.format(col="first_name")} AS fi,
    {_INIT_SQL.format(col="last_name")} AS li
  FROM pa
),
kb AS (
  SELECT id AS id_2, birthdate, CAST(year(birthdate) AS INT) AS by,
    {_INIT_SQL.format(col="first_name")} AS fi,
    {_INIT_SQL.format(col="last_name")} AS li
  FROM pb
),
truth AS (
  SELECT a.id AS id_1, b.id AS id_2 FROM pa a JOIN pb b
    ON lower(a.first_name) = lower(b.first_name)
   AND lower(a.last_name) = lower(b.last_name)
   AND a.birthdate = b.birthdate
),
sizes AS (
  SELECT (SELECT CAST(count(*) AS DOUBLE) FROM pa) AS n1,
         (SELECT CAST(count(*) AS DOUBLE) FROM pb) AS n2,
         (SELECT CAST(count(*) AS DOUBLE) FROM truth) AS nt
),
bd AS (SELECT id_1, id_2 FROM ka JOIN kb USING (birthdate)),
yi AS (SELECT id_1, id_2 FROM ka JOIN kb USING (by, fi, li)),
tp AS (
  SELECT a.id AS id_1, b.id AS id_2 FROM pa a JOIN pb b
    ON year(a.birthdate) = year(b.birthdate)
   AND substr(lower(a.last_name), 1, 2) = substr(lower(b.last_name), 1, 2)
   AND substr(lower(a.first_name), 1, 1) = substr(lower(b.first_name), 1, 1)
),
bd_stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_candidates,
    (SELECT CAST(count(*) AS BIGINT) FROM truth t
      WHERE EXISTS (SELECT 1 FROM bd c WHERE c.id_1 = t.id_1 AND c.id_2 = t.id_2)) AS n_covered
  FROM bd
),
yi_stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_candidates,
    (SELECT CAST(count(*) AS BIGINT) FROM truth t
      WHERE EXISTS (SELECT 1 FROM yi c WHERE c.id_1 = t.id_1 AND c.id_2 = t.id_2)) AS n_covered
  FROM yi
),
tp_stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_candidates,
    (SELECT CAST(count(*) AS BIGINT) FROM truth t
      WHERE EXISTS (SELECT 1 FROM tp c WHERE c.id_1 = t.id_1 AND c.id_2 = t.id_2)) AS n_covered
  FROM tp
)
SELECT 'birthdate' AS strategy, n_candidates, CAST(nt AS BIGINT) AS n_truth, n_covered,
  round(CASE WHEN nt > 0 THEN n_covered / nt ELSE 1.0 END, 6) AS recall,
  round(1.0 - n_candidates / (n1 * n2), 6) AS reduction
FROM bd_stats, sizes
UNION ALL
SELECT 'year_initials', n_candidates, CAST(nt AS BIGINT), n_covered,
  round(CASE WHEN nt > 0 THEN n_covered / nt ELSE 1.0 END, 6),
  round(1.0 - n_candidates / (n1 * n2), 6)
FROM yi_stats, sizes
UNION ALL
SELECT 'token_prefix', n_candidates, CAST(nt AS BIGINT), n_covered,
  round(CASE WHEN nt > 0 THEN n_covered / nt ELSE 1.0 END, 6),
  round(1.0 - n_candidates / (n1 * n2), 6)
FROM tp_stats, sizes
"""


def lk_lev_jw_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity kernels head-to-head with DuckDB's: candidate pairs
    on exact birthdate, Levenshtein-pct (byte denominator) and
    Jaro-Winkler >= 85 gate."""
    pa = persons_a(spark, sf_dir).select(
        F.col("id").alias("id_1"),
        F.lower(F.concat_ws(" ", "first_name", "last_name")).alias("fa"),
        F.col("birthdate").alias("bd"),
    )
    pb = persons_b(spark, sf_dir).select(
        F.col("id").alias("id_2"),
        F.lower(F.concat_ws(" ", "first_name", "last_name")).alias("fb"),
        F.col("birthdate").alias("bd"),
    )
    pairs = pa.join(pb, "bd")
    # Filter on the RAW scores (like the oracle's WHERE on the
    # unrounded expressions) and round only the projection: filtering
    # on the rounded value would keep a pair whose raw score sits in
    # [84.995, 85.0) that the oracle drops.
    scored = pairs.select(
        "id_1",
        "id_2",
        lev_pct_col(F.col("fa"), F.col("fb")).alias("_lev_raw"),
        jw_pct_expr(F.col("fa"), F.col("fb")).alias("_jw_raw"),
    )
    return scored.filter(
        (F.col("_lev_raw") >= 85.0) & (F.col("_jw_raw") >= 85.0)
    ).select(
        "id_1",
        "id_2",
        F.round("_lev_raw", 2).alias("lev_pct"),
        F.round("_jw_raw", 2).alias("jw_pct"),
    )


LK_LEV_JW_SQL = f"""
WITH pa AS ({PERSONS_A_SQL}), pb AS ({PERSONS_B_SQL}),
pairs AS (
  SELECT a.id AS id_1, b.id AS id_2,
    lower(a.first_name || ' ' || a.last_name) AS fa,
    lower(b.first_name || ' ' || b.last_name) AS fb
  FROM pa a JOIN pb b ON a.birthdate = b.birthdate
)
SELECT id_1, id_2,
  round((1.0 - CAST(levenshtein(fa, fb) AS DOUBLE) / greatest(strlen(fa), strlen(fb))) * 100.0, 2) AS lev_pct,
  round(jaro_winkler_similarity(fa, fb) * 100.0, 2) AS jw_pct
FROM pairs
WHERE (1.0 - CAST(levenshtein(fa, fb) AS DOUBLE) / greatest(strlen(fa), strlen(fb))) * 100.0 >= 85.0
  AND jaro_winkler_similarity(fa, fb) * 100.0 >= 85.0
"""


def lk_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full fuzzy ladder, hash-checked: the DuckDB twin replays the
    cascade + birthdate gate + CASE 1/2/3 ladder with DuckDB's own
    levenshtein/jaro_winkler_similarity; the phonetic codes come from
    the golden-tested Python-mirror sidecar (ensure_phonetic_sidecar)."""
    ensure_phonetic_sidecar(spark, sf_dir)
    pa = prepare_persons(persons_a(spark, sf_dir), include_middle=False)
    pb = prepare_persons(persons_b(spark, sf_dir), include_middle=False)
    out = match_fuzzy(pa, pb, include_middle=False)
    return out.select("id_1", "id_2", F.round("score", 4).alias("score"), "match_case")


def lk_fuzzy_pairs_mid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Algorithm 3 — fuzzy ladder WITH middle name (the Some/None middle
    rules of fuzzy_compare_names_new, reference mod.rs:101-141),
    hash-checked like the 2-field variant."""
    ensure_phonetic_sidecar(spark, sf_dir)
    pa = prepare_persons(persons_a(spark, sf_dir), include_middle=True)
    pb = prepare_persons(persons_b(spark, sf_dir), include_middle=True)
    out = match_fuzzy(pa, pb, include_middle=True)
    return out.select("id_1", "id_2", F.round("score", 4).alias("score"), "match_case")


def lk_algo7_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Algorithm 7 (deprecated in the reference; shipped for surface
    completeness): ±1-year banded blocking + 0.7·name + 0.3·date
    composite, hash-checked against a DuckDB replay of the disjoint
    branch cascade + composite arithmetic (also differential-tested in
    tests/test_algo7.py)."""
    from .operators.fuzzy_join import match_algo7

    ensure_phonetic_sidecar(spark, sf_dir)
    pa = prepare_persons(persons_a(spark, sf_dir), include_middle=False)
    pb = prepare_persons(persons_b(spark, sf_dir), include_middle=False)
    out = match_algo7(pa, pb)
    return out.select("id_1", "id_2", F.round("score", 4).alias("score"), "match_case")


# --- DuckDB twin of the fuzzy ladder -----------------------------------------
# Names in the fixture pools are ASCII, so normalize_text == lower() and the
# byte-denominator Levenshtein == the char one (same convention as every other
# lk_* oracle). soundex4 / Double Metaphone come from the sidecar maps.


def _full_sql(p: str, include_middle: bool) -> str:
    """normalize_simple'd full name (missing middle -> double space)."""
    if include_middle:
        parts = (
            f"{p}.first_name || ' ' || coalesce({p}.middle_name, '')"
            f" || ' ' || {p}.last_name"
        )
    else:
        parts = f"{p}.first_name || ' ' || {p}.last_name"
    return f"trim(lower({parts}))"


def _fuzzy_keys_cte(side: str, src: str, include_middle: bool) -> str:
    full = _full_sql("p", include_middle)
    return f"""
k{side} AS (
  SELECT p.id, p.birthdate, CAST(year(p.birthdate) AS INT) AS by,
    {_INIT_SQL.format(col="p.first_name")} AS fi,
    {_INIT_SQL.format(col="p.last_name")} AS li,
    sxm.code AS sx,
    lower(p.first_name) AS s_first,
    lower(coalesce(p.middle_name, '')) AS s_mid,
    lower(p.last_name) AS s_last,
    {full} AS fullname,
    coalesce(dmm.code, '') AS dm
  FROM {src} p
  LEFT JOIN sxm ON lower(p.last_name) = sxm.key
  LEFT JOIN dmm ON {full} = dmm.key
)"""


_SIDECAR_CTES = f"""
sxm AS (SELECT key, code FROM read_parquet('{SIDECAR_DIR}/soundex4.parquet')),
dmm AS (SELECT key, code FROM read_parquet('{SIDECAR_DIR}/dmeta.parquet'))"""

# The bkey fallback cascade (fuzzy_join.candidates_bkey_cascade,
# reference mod.rs:1033-1113): branch N+1 only for probes branch N left
# EMPTY. (The hot-block cap is a no-op at oracle scale: no sf0.01 block
# approaches 10k build rows.)
_CASCADE_CTES = """
b1 AS (SELECT l.id AS id_1, r.id AS id_2 FROM ka l JOIN kb r
        ON l.by = r.by AND l.fi = r.fi AND l.li = r.li AND l.sx = r.sx),
l2 AS (SELECT * FROM ka l WHERE NOT EXISTS (SELECT 1 FROM kb r
        WHERE l.by = r.by AND l.fi = r.fi AND l.li = r.li AND l.sx = r.sx)),
b2 AS (SELECT l.id AS id_1, r.id AS id_2 FROM l2 l JOIN kb r
        ON r.fi = '?' AND l.by = r.by AND l.li = r.li AND l.sx = r.sx),
l3 AS (SELECT * FROM l2 l WHERE NOT EXISTS (SELECT 1 FROM kb r
        WHERE r.fi = '?' AND l.by = r.by AND l.li = r.li AND l.sx = r.sx)),
b3 AS (SELECT l.id AS id_1, r.id AS id_2 FROM l3 l JOIN kb r
        ON l.by = r.by AND l.fi = r.fi AND l.li = r.li
       AND substr(l.sx, 1, 2) || '00' = r.sx),
cands AS (SELECT * FROM b1 UNION ALL SELECT * FROM b2 UNION ALL SELECT * FROM b3)"""

# Algo-7 branch set (fuzzy_join.candidates_algo7, mod.rs:1151-1221):
# exact key; '?' fallback; ±1-year band UNCONDITIONALLY; coarse soundex
# only when 1-3 all empty. Branches are disjoint by construction.
_ALGO7_CANDS_CTES = """
b1 AS (SELECT l.id AS id_1, r.id AS id_2 FROM ka l JOIN kb r
        ON l.by = r.by AND l.fi = r.fi AND l.li = r.li AND l.sx = r.sx),
l2 AS (SELECT * FROM ka l WHERE NOT EXISTS (SELECT 1 FROM kb r
        WHERE l.by = r.by AND l.fi = r.fi AND l.li = r.li AND l.sx = r.sx)),
b2 AS (SELECT l.id AS id_1, r.id AS id_2 FROM l2 l JOIN kb r
        ON r.fi = '?' AND l.by = r.by AND l.li = r.li AND l.sx = r.sx),
l3 AS (SELECT * FROM l2 l WHERE NOT EXISTS (SELECT 1 FROM kb r
        WHERE r.fi = '?' AND l.by = r.by AND l.li = r.li AND l.sx = r.sx)),
bpm AS (SELECT l.id AS id_1, r.id AS id_2 FROM ka l JOIN kb r
        ON (r.by = l.by - 1 OR r.by = l.by + 1)
       AND l.fi = r.fi AND l.li = r.li AND l.sx = r.sx),
l4 AS (SELECT * FROM l3 l WHERE NOT EXISTS
        (SELECT 1 FROM bpm WHERE bpm.id_1 = l.id)),
b4 AS (SELECT l.id AS id_1, r.id AS id_2 FROM l4 l JOIN kb r
        ON l.by = r.by AND l.fi = r.fi AND l.li = r.li
       AND substr(l.sx, 1, 2) || '00' = r.sx),
cands AS (SELECT * FROM b1 UNION ALL SELECT * FROM b2
          UNION ALL SELECT * FROM bpm UNION ALL SELECT * FROM b4)"""


def _ladder_ctes(include_middle: bool, gate: str, extra_pair_cols: str = "") -> str:
    """Birthdate gate + kernel columns + CASE 1/2/3 decision, shared by
    the fuzzy and algo7 oracles. Mirrors functions/fuzzy.py exactly:
    byte-denominator lev (ASCII: strlen == octet_length), strsim-parity
    JW (DuckDB's boost threshold only diverges below jaro 0.7, unreachable
    alongside the 85-gates), metaphone equality, mean-of-three."""
    fld = "levenshtein(a.s_first, b.s_first) <= 2 AND levenshtein(a.s_last, b.s_last) <= 2"
    if include_middle:
        fld += " AND levenshtein(a.s_mid, b.s_mid) <= 2"
    return f"""
pairs AS (
  SELECT c.id_1, c.id_2, a.fullname AS fa, b.fullname AS fb,
    a.dm AS dma, b.dm AS dmb,
    ({fld}) AS fld_ok{extra_pair_cols}
  FROM cands c JOIN ka a ON a.id = c.id_1 JOIN kb b ON b.id = c.id_2
  WHERE {gate}
    AND trim(a.fullname) <> '' AND trim(b.fullname) <> ''
),
kern AS (
  SELECT *,
    (1.0 - CAST(levenshtein(fa, fb) AS DOUBLE)
           / greatest(strlen(fa), strlen(fb))) * 100.0 AS lev,
    jaro_winkler_similarity(fa, fb) * 100.0 AS jw,
    CASE WHEN dma <> '' AND dma = dmb THEN 100.0 ELSE 0.0 END AS mp
  FROM pairs
),
lab AS (
  SELECT *, (lev + jw + mp) / 3.0 AS avgscore,
    (CASE WHEN lev >= 85.0 THEN 1 ELSE 0 END
     + CASE WHEN jw >= 85.0 THEN 1 ELSE 0 END
     + CASE WHEN mp = 100.0 THEN 1 ELSE 0 END) AS passes
  FROM kern
),
dec AS (
  SELECT *,
    CASE WHEN fa = fb THEN 'DIRECT MATCH'
         WHEN lev >= 85.0 AND jw >= 85.0 AND mp = 100.0 THEN 'CASE 1'
         WHEN passes >= 2 AND avgscore >= 88.0 AND fld_ok THEN 'CASE 3'
         WHEN passes >= 2 THEN 'CASE 2'
         ELSE NULL END AS match_case,
    CASE WHEN fa = fb THEN 100.0 ELSE (lev + jw + mp) / 3.0 END AS rawscore
  FROM lab
)"""


def _fuzzy_sql(include_middle: bool) -> str:
    return f"""
WITH pa AS ({PERSONS_A_SQL}), pb AS ({PERSONS_B_SQL}),{_SIDECAR_CTES},
{_fuzzy_keys_cte("a", "pa", include_middle)},
{_fuzzy_keys_cte("b", "pb", include_middle)},{_CASCADE_CTES},{_ladder_ctes(
        include_middle,
        gate="a.birthdate IS NOT NULL AND a.birthdate = b.birthdate",
    )}
SELECT id_1, id_2, round(rawscore, 4) AS score, match_case
FROM dec WHERE match_case IS NOT NULL
"""


LK_FUZZY_SQL = _fuzzy_sql(include_middle=False)
LK_FUZZY_MID_SQL = _fuzzy_sql(include_middle=True)


def lk_fuzzy_birthdate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SECOND blocking strategy through the full ladder: exact-
    birthdate candidate blocking (exact recall — the ladder's own
    birthdate gate makes it lossless) instead of the bkey cascade.
    Hash-checked via the same sidecar ladder replay with a birthdate
    candidate CTE."""
    ensure_phonetic_sidecar(spark, sf_dir)
    pa = prepare_persons(persons_a(spark, sf_dir), include_middle=False)
    pb = prepare_persons(persons_b(spark, sf_dir), include_middle=False)
    out = match_fuzzy(pa, pb, include_middle=False, blocking="birthdate")
    return out.select("id_1", "id_2", F.round("score", 4).alias("score"), "match_case")


LK_FUZZY_BD_SQL = f"""
WITH pa AS ({PERSONS_A_SQL}), pb AS ({PERSONS_B_SQL}),{_SIDECAR_CTES},
{_fuzzy_keys_cte("a", "pa", include_middle=False)},
{_fuzzy_keys_cte("b", "pb", include_middle=False)},
cands AS (
  SELECT l.id AS id_1, r.id AS id_2 FROM ka l JOIN kb r
    ON l.birthdate = r.birthdate
),{_ladder_ctes(
    include_middle=False,
    gate="a.birthdate IS NOT NULL AND a.birthdate = b.birthdate",
)}
SELECT id_1, id_2, round(rawscore, 4) AS score, match_case
FROM dec WHERE match_case IS NOT NULL
"""

_BD_PCT_SQL = """CAST(CASE
    WHEN bd1 = bd2 THEN 100.0
    WHEN abs(datediff('day', bd2, bd1)) = 1 THEN 90.0
    WHEN year(bd1) = year(bd2) AND (
         TRY_CAST(year(bd1) || '-' || day(bd1) || '-' || month(bd1) AS DATE) = bd2
      OR TRY_CAST(year(bd2) || '-' || day(bd2) || '-' || month(bd2) AS DATE) = bd1
    ) THEN 85.0
    WHEN year(bd1) = year(bd2) AND month(bd1) = month(bd2) THEN 70.0
    WHEN year(bd1) = year(bd2) THEN 50.0
    WHEN abs(year(bd1) - year(bd2)) = 1 THEN 40.0
    ELSE 0.0
  END AS DOUBLE)"""

LK_ALGO7_SQL = f"""
WITH pa AS ({PERSONS_A_SQL}), pb AS ({PERSONS_B_SQL}),{_SIDECAR_CTES},
{_fuzzy_keys_cte("a", "pa", include_middle=False)},
{_fuzzy_keys_cte("b", "pb", include_middle=False)},{_ALGO7_CANDS_CTES},{_ladder_ctes(
    include_middle=False,
    gate="a.birthdate IS NOT NULL AND b.birthdate IS NOT NULL",
    extra_pair_cols=", a.birthdate AS bd1, b.birthdate AS bd2",
)},
named AS (
  SELECT id_1, id_2, match_case AS name_case, rawscore AS name_score,
    {_BD_PCT_SQL} AS bd_pct
  FROM dec WHERE match_case IS NOT NULL
)
SELECT id_1, id_2,
  round(0.7 * name_score + 0.3 * bd_pct, 4) AS score,
  'fuzzy7,' || name_case || ',birthdate:'
    || CAST(CAST(round(bd_pct) AS INT) AS VARCHAR) || '%' AS match_case
FROM named
"""


def lk_household_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Option-5 household aggregation over algo1 pairs."""
    pa_raw = persons_a(spark, sf_dir)
    pa = prepare_persons(pa_raw)
    pb = prepare_persons(persons_b(spark, sf_dir))
    pairs = match_algo1(pa, pb)
    hh = persons_b(spark, sf_dir).select(
        F.col("id").alias("id_2"), F.col("hh_id").alias("hh_id_2")
    )
    pairs_hh = pairs.join(hh, "id_2")
    out = households_option5(pairs_hh, pa_raw, threshold=0.95)
    return out.select(
        "row_id", "uuid", "hh_id", F.round("match_percentage", 4).alias("match_percentage")
    )


LK_HOUSEHOLD_SQL = f"""
WITH pa AS ({PERSONS_A_SQL}), pb AS ({PERSONS_B_SQL}),
pairs AS (
  SELECT a.id AS id_1, a.uuid AS uuid_1, b.id AS id_2,
         coalesce(b.hh_id, CAST(b.id AS VARCHAR)) AS hh_key
  FROM pa a JOIN pb b
    ON lower(a.first_name) = lower(b.first_name)
   AND lower(a.last_name) = lower(b.last_name)
   AND a.birthdate = b.birthdate
  WHERE a.uuid IS NOT NULL
),
assigned AS (
  SELECT id_1, uuid_1, min(hh_key) AS hh_key
  FROM pairs GROUP BY id_1, uuid_1
  HAVING count(DISTINCT hh_key) = 1
),
members AS (
  SELECT uuid_1, hh_key, count(DISTINCT id_1) AS members
  FROM assigned GROUP BY uuid_1, hh_key
),
totals AS (
  SELECT uuid, count(*) AS total FROM pa WHERE uuid IS NOT NULL GROUP BY uuid
),
pct AS (
  SELECT m.uuid_1 AS uuid, m.hh_key AS hh_id,
         m.members * 100.0 / t.total AS match_percentage
  FROM members m JOIN totals t ON m.uuid_1 = t.uuid
  WHERE m.members * 100.0 / t.total > 50.0
)
SELECT CAST(row_number() OVER (ORDER BY uuid, hh_id) AS INT) AS row_id,
       uuid, hh_id, round(match_percentage, 4) AS match_percentage
FROM pct
"""


def lk_household_pct_opt6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Option-6 household aggregation (role-swapped: best T1 uuid per
    T2 person, denominator = T2 household size; reference
    mod.rs:431-560) over algo1 pairs."""
    from .operators.household import households_option6

    pa = prepare_persons(persons_a(spark, sf_dir))
    pb_raw = persons_b(spark, sf_dir)
    pb = prepare_persons(pb_raw)
    pairs = match_algo1(pa, pb)
    hh = pb_raw.select(F.col("id").alias("id_2"), F.col("hh_id").alias("hh_id_2"))
    pairs_hh = pairs.join(hh, "id_2")
    out = households_option6(pairs_hh, pb_raw, threshold=0.95)
    return out.select(
        "row_id", "uuid", "hh_id", F.round("match_percentage", 4).alias("match_percentage")
    )


LK_HOUSEHOLD6_SQL = f"""
WITH pa AS ({PERSONS_A_SQL}), pb AS ({PERSONS_B_SQL}),
pairs AS (
  SELECT a.id AS id_1, a.uuid AS uuid_1, b.id AS id_2,
         coalesce(b.hh_id, CAST(b.id AS VARCHAR)) AS hh_key
  FROM pa a JOIN pb b
    ON lower(a.first_name) = lower(b.first_name)
   AND lower(a.last_name) = lower(b.last_name)
   AND a.birthdate = b.birthdate
  WHERE a.uuid IS NOT NULL
),
assigned AS (
  SELECT id_2, min(hh_key) AS hh_key, min(uuid_1) AS uuid_1
  FROM pairs GROUP BY id_2
  HAVING count(DISTINCT uuid_1) = 1
),
members AS (
  SELECT uuid_1, hh_key, count(DISTINCT id_2) AS members
  FROM assigned GROUP BY uuid_1, hh_key
),
totals AS (
  SELECT coalesce(hh_id, CAST(id AS VARCHAR)) AS hh_key_t, count(*) AS total
  FROM pb GROUP BY 1
),
pct AS (
  SELECT m.uuid_1 AS uuid, m.hh_key AS hh_id,
         m.members * 100.0 / t.total AS match_percentage
  FROM members m JOIN totals t ON m.hh_key = t.hh_key_t
  WHERE m.members * 100.0 / t.total > 50.0
)
SELECT CAST(row_number() OVER (ORDER BY uuid, hh_id) AS INT) AS row_id,
       uuid, hh_id, round(match_percentage, 4) AS match_percentage
FROM pct
"""


def lk_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive clustering of algo1 pairs (connected components)."""
    pa = prepare_persons(persons_a(spark, sf_dir))
    pb = prepare_persons(persons_b(spark, sf_dir))
    pairs = match_algo1(pa, pb)
    return cluster_pairs(pairs, threshold=0.95)


def lk_clusters_bigstar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same clustering contract via the large-star/small-star
    contraction (O(log n) rounds — the adversarial-diameter scale
    path); must match the identical recursive-CTE oracle."""
    pa = prepare_persons(persons_a(spark, sf_dir))
    pb = prepare_persons(persons_b(spark, sf_dir))
    pairs = match_algo1(pa, pb)
    return cluster_pairs(pairs, threshold=0.95, method="bigstar")


def lk_stream_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental clustering (streaming/clustering.py): algo1 pairs
    drained in micro-batches into a maintained label store; final
    store must equal from-scratch clustering, so it carries the same
    recursive-CTE oracle as lk_clusters."""
    from .streaming.clustering import incremental_clusters, read_clusters

    pa = prepare_persons(persons_a(spark, sf_dir))
    pb = prepare_persons(persons_b(spark, sf_dir))
    pairs = match_algo1(pa, pb).select("id_1", "id_2", "confidence")
    # _stream_workdir: the work dir (corpus copy + store + checkpoint)
    # is removed on success AND on failure — repeated sweeps must not
    # leak under /tmp. read_clusters materializes eagerly
    # (localCheckpoint), so the result outlives the removal.
    with _stream_workdir("lk_stream_cc_") as work:
        src = f"{work}/src"
        pairs.repartition(2).write.parquet(src)
        q = incremental_clusters(
            spark.readStream.schema(pairs.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src),
            f"{work}/labels", f"{work}/ck",
        )
        q.awaitTermination()
        return read_clusters(spark, f"{work}/labels")


LK_CLUSTERS_SQL = f"""
WITH RECURSIVE pa AS ({PERSONS_A_SQL}), pb AS ({PERSONS_B_SQL}),
pairs AS (
  SELECT a.id AS id_1, b.id AS id_2
  FROM pa a JOIN pb b
    ON lower(a.first_name) = lower(b.first_name)
   AND lower(a.last_name) = lower(b.last_name)
   AND a.birthdate = b.birthdate
),
edges AS (
  SELECT id_1 * 2 AS src, id_2 * 2 + 1 AS dst FROM pairs
  UNION
  SELECT id_2 * 2 + 1 AS src, id_1 * 2 AS dst FROM pairs
),
reach(node, lbl) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
)
SELECT CASE WHEN node % 2 = 0 THEN 'a' ELSE 'b' END AS side,
       CAST(node // 2 AS BIGINT) AS id,
       min(lbl) AS cluster_id
FROM reach GROUP BY node
"""


# ---------------------------------------------------------------------------
# C. Dedup / text / vectors / multimodal
# ---------------------------------------------------------------------------


def dd_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup. The documents table has no byte-identical dupes, so
    the query self-unions a shifted copy (both dialects) to exercise
    non-trivial groups."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    dup = d.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    return exact_duplicates(d.unionByName(dup))


DD_EXACT_SQL = """
WITH docs2 AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000, text FROM documents
),
hashed AS (
  SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS h
  FROM docs2
),
groups AS (
  SELECT h, min(doc_id) AS canonical_id, count(*) AS group_size
  FROM hashed GROUP BY h HAVING count(*) >= 2
)
SELECT hashed.doc_id, groups.canonical_id, groups.group_size
FROM hashed JOIN groups ON hashed.h = groups.h
"""


def dd_minhash_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    # hash_fn="md5" is the oracle mode (DuckDB-replayable); production
    # default is xxhash64 — same dual-mode contract as dd_simhash.
    return minhash_lsh_candidates(
        _docs(spark, sf_dir), k=5, num_hashes=8, bands=4, hash_fn="md5"
    )


def _minhash_sql(from_tbl: str = "documents") -> str:
    hash_cols = ",\n    ".join(
        f"min(md5(gram || ':{i}')) AS h{i}" for i in range(8)
    )
    band_rows = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {b} AS band, h{2*b} || '|' || h{2*b+1} AS key FROM sigs"
        for b in range(4)
    )
    return f"""
WITH docs2 AS (
  SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
  FROM {from_tbl}
),
offsets AS (
  SELECT doc_id, t, unnest(generate_series(1, length(t) - 4)) AS i
  FROM docs2 WHERE length(t) >= 5
),
grams AS (
  SELECT DISTINCT doc_id, substr(t, CAST(i AS INT), 5) AS gram FROM offsets
),
sigs AS (
  SELECT doc_id, {hash_cols}
  FROM grams GROUP BY doc_id
),
bands AS (
{band_rows}
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
"""


DD_MINHASH_SQL = _minhash_sql()


def dd_stream_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental streaming dedup (streaming/dedup.py): documents
    drained in micro-batches, each joined against the accumulated
    bucket store. The union of emitted pairs provably equals the batch
    LSH candidate set, so the STREAMING path gets the full DuckDB
    minhash oracle (DD_MINHASH_SQL) — not just a rows check."""
    from .streaming.dedup import incremental_dedup

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    with _stream_workdir("dd_stream_") as work:
        src = f"{work}/src"
        docs.repartition(2).write.parquet(src)
        q = incremental_dedup(
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src),
            f"{work}/store", f"{work}/out", f"{work}/ck",
            hash_fn="md5",
        )
        q.awaitTermination()
        # localCheckpoint: materialize before the work dir is removed
        return (
            spark.read.parquet(f"{work}/out")
            .select("id_a", "id_b")
            .localCheckpoint(eager=True)
        )


def dd_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidates -> transitive dup clusters -> canonical
    doc per cluster (longest text, ties to min id) — the keep-one step
    of a dedup pipeline, checked against a DuckDB recursive CTE over
    the IDENTICAL (portable-md5) candidate pairs."""
    from .operators.dedup import dedup_clusters, minhash_lsh_candidates

    d = _docs(spark, sf_dir)
    pairs = minhash_lsh_candidates(d, k=5, num_hashes=8, bands=4, hash_fn="md5")
    return dedup_clusters(d, pairs)


DD_DUP_CLUSTERS_SQL = f"""
WITH RECURSIVE cand AS MATERIALIZED (
  SELECT * FROM ({DD_MINHASH_SQL})
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM cand
  UNION
  SELECT id_b AS src, id_a AS dst FROM cand
),
reach(node, lbl) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
),
comp AS (
  SELECT node, min(lbl) AS cluster_id FROM reach GROUP BY node
),
member AS (
  SELECT c.node, c.cluster_id,
         length(regexp_replace(lower(trim(d.text)), '\\s+', ' ', 'g')) AS n_chars
  FROM comp c JOIN documents d ON d.doc_id = c.node
)
SELECT node AS doc_id, cluster_id,
  CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size,
  (row_number() OVER (PARTITION BY cluster_id ORDER BY n_chars DESC, node ASC) = 1)
    AS is_canonical
FROM member
"""


def dd_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tiered dedup pipeline end-to-end (operators/dedup.py::
    dedup_pipeline): exact -> LSH -> ngram verify -> clusters ->
    per-doc disposition, over the self-union corpus (shifted copy makes
    exact dups real, the synthetic near-dups exercise tiers 2-4). The
    DuckDB twin chains the proven per-tier oracles into one recursive
    query, so the WHOLE pipeline — including exact-canonical resolution
    through near-dup clusters — hash-checks."""
    from .operators.dedup import dedup_pipeline

    d = _docs(spark, sf_dir).select("doc_id", "text")
    dup = d.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    return dedup_pipeline(d.unionByName(dup), minhash_hash_fn="md5")


def _dedup_tiers_sql(
    corpus: str,
    shingle_k: int = 5,
    verify_k: int = 3,
    verify_threshold: float = 0.62,
    max_doc_freq: int | None = 100,
) -> str:
    """The proven per-tier dedup oracle CTE chain (exact md5 groups ->
    8-hash/4-band md5 MinHash LSH over ``shingle_k``-gram shingles ->
    ``verify_k``-gram Jaccard verify at ``verify_threshold`` with
    optional ``max_doc_freq`` stop-gram cut -> recursive connected
    components -> longest-text canonical), over
    any CTE ``corpus`` providing (doc_id, t) with t ALREADY normalized
    (lower + whitespace-fold + trim, the _norm_text contract). Emitted
    CTE names: hashed/assigned/surv/off5/grams5/sigs/bands/cand/off3/
    grams3_all/grams3/sizes/inter/verified/edges/reach/comp/member/
    ranked/cluster_canon/near. Both DD_PIPELINE_SQL and the crawl e2e
    oracle assemble from this one generator, so a fix to a tier rule
    propagates to every chained oracle. Parameters mirror Spark's
    dedup_pipeline(shingle_k=, max_doc_freq=) exactly."""
    hash_cols = ",\n    ".join(
        f"min(md5(gram || ':{i}')) AS h{i}" for i in range(8)
    )
    band_rows = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {b} AS band, h{2*b} || '|' || h{2*b+1} AS key FROM sigs"
        for b in range(4)
    )
    gram_cut = (
        "\n  WHERE gram IN (SELECT gram FROM grams3_all "
        f"GROUP BY gram HAVING count(*) <= {max_doc_freq})"
        if max_doc_freq is not None
        else ""
    )
    return f"""hashed AS MATERIALIZED (
  -- coalesce mirrors dedup_pipeline's NULL-text sentinel: a NULL-text
  -- doc is its own singleton exact group ('kept'), never dropped
  SELECT doc_id, coalesce(md5(t), '__null__' || CAST(doc_id AS VARCHAR)) AS h
  FROM {corpus}
),
assigned AS (
  SELECT hashed.doc_id, g.exact_canon
  FROM hashed JOIN (
    SELECT h, min(doc_id) AS exact_canon FROM hashed GROUP BY h
  ) g ON hashed.h = g.h
),
surv AS MATERIALIZED (
  SELECT c.doc_id, c.t
  FROM {corpus} c JOIN assigned a ON a.doc_id = c.doc_id
  WHERE a.doc_id = a.exact_canon
),
off5 AS (
  SELECT doc_id, t, unnest(generate_series(1, length(t) - {shingle_k - 1})) AS i
  FROM surv WHERE length(t) >= {shingle_k}
),
grams5 AS (
  SELECT DISTINCT doc_id, substr(t, CAST(i AS INT), {shingle_k}) AS gram FROM off5
),
sigs AS (
  SELECT doc_id, {hash_cols}
  FROM grams5 GROUP BY doc_id
),
bands AS (
{band_rows}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
),
off3 AS (
  SELECT doc_id, t, unnest(generate_series(1, length(t) - {verify_k - 1})) AS i
  FROM surv WHERE length(t) >= {verify_k}
),
grams3_all AS (
  SELECT DISTINCT doc_id, substr(t, CAST(i AS INT), {verify_k}) AS gram FROM off3
),
grams3 AS MATERIALIZED (
  SELECT doc_id, gram FROM grams3_all{gram_cut}
),
sizes AS (SELECT doc_id, count(*) AS n FROM grams3 GROUP BY doc_id),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS inter
  FROM cand c
  JOIN grams3 a ON a.doc_id = c.id_a
  JOIN grams3 b ON b.doc_id = c.id_b AND b.gram = a.gram
  GROUP BY c.id_a, c.id_b
),
verified AS MATERIALIZED (
  SELECT i.id_a, i.id_b
  FROM inter i
  JOIN sizes na ON i.id_a = na.doc_id
  JOIN sizes nb ON i.id_b = nb.doc_id
  WHERE CAST(i.inter AS DOUBLE) / (na.n + nb.n - i.inter) >= {verify_threshold}
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM verified
  UNION
  SELECT id_b AS src, id_a AS dst FROM verified
),
reach(node, lbl) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
),
comp AS (SELECT node, min(lbl) AS cluster_id FROM reach GROUP BY node),
member AS (
  SELECT c.node, c.cluster_id, length(s.t) AS n_chars
  FROM comp c JOIN surv s ON s.doc_id = c.node
),
ranked AS (
  SELECT node, cluster_id,
    row_number() OVER (PARTITION BY cluster_id
                       ORDER BY n_chars DESC, node ASC) AS rk
  FROM member
),
cluster_canon AS (SELECT cluster_id, node AS canon FROM ranked WHERE rk = 1),
near AS (
  SELECT r.node AS doc_id, cc.canon AS canonical_id
  FROM ranked r JOIN cluster_canon cc USING (cluster_id)
  WHERE r.rk > 1
)"""


# Per-doc disposition over the tier CTEs: exact_dups whose canonical
# was itself absorbed as a near-dup resolve through to the cluster
# canonical (dedup_pipeline's remap join).
_DEDUP_DISPOSITION_SQL = """SELECT s.doc_id, 'kept' AS status, s.doc_id AS canonical_id
FROM surv s
WHERE NOT EXISTS (SELECT 1 FROM near WHERE near.doc_id = s.doc_id)
UNION ALL
SELECT a.doc_id, 'exact_dup', coalesce(n.canonical_id, a.exact_canon)
FROM assigned a LEFT JOIN near n ON n.doc_id = a.exact_canon
WHERE a.doc_id <> a.exact_canon
UNION ALL
SELECT doc_id, 'near_dup', canonical_id FROM near"""


DD_PIPELINE_SQL = f"""
WITH RECURSIVE docs2 AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000, text FROM documents
),
corpus AS MATERIALIZED (
  SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
  FROM docs2
),
{_dedup_tiers_sql('corpus')}
{_DEDUP_DISPOSITION_SQL}
"""


def dd_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered as the SCALE variant: stop-gram cut (max_doc_freq)
    bounds the gram equi-join fan-out; the DuckDB oracle mirrors the
    identical gram-universe filter so Jaccard values agree exactly."""
    out = ngram_jaccard_pairs(
        _docs(spark, sf_dir), candidates=None, k=3, threshold=0.62,
        max_doc_freq=100,
    )
    return out.select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))


DD_NGRAM_SQL = """
WITH docs2 AS (
  SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
  FROM documents
),
offsets AS (
  SELECT doc_id, t, unnest(generate_series(1, length(t) - 2)) AS i
  FROM docs2 WHERE length(t) >= 3
),
grams_all AS MATERIALIZED (
  SELECT DISTINCT doc_id, substr(t, CAST(i AS INT), 3) AS gram FROM offsets
),
grams AS MATERIALIZED (
  SELECT doc_id, gram FROM grams_all
  WHERE gram IN (SELECT gram FROM grams_all GROUP BY gram HAVING count(*) <= 100)
),
sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT i.id_a, i.id_b,
  round(CAST(i.inter AS DOUBLE) / (na.n + nb.n - i.inter), 4) AS jaccard
FROM inter i
JOIN sizes na ON i.id_a = na.doc_id
JOIN sizes nb ON i.id_b = nb.doc_id
WHERE CAST(i.inter AS DOUBLE) / (na.n + nb.n - i.inter) >= 0.62
"""


def dd_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs. Registered with the portable md5_60
    hash (same operator code path: shingles -> bit sums -> sign ->
    pigeonhole chunk join -> hamming verify) so the whole pipeline
    hash-checks against DuckDB; production default stays xxhash64."""
    out = simhash_near_dupes(
        _docs(spark, sf_dir), k=4, max_hamming=3, hash_fn="md5_60"
    )
    return out.select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))


def _simhash_sql(from_tbl: str = "documents") -> str:
    nbits = 60
    digit = "strpos('0123456789abcdef', substr(h16, {j}, 1)) - 1"
    h_terms = " + ".join(
        f"CAST({digit.format(j=j + 1)} AS BIGINT) * {16 ** (14 - j)}"
        for j in range(15)
    )
    bit_sums = ",\n    ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(nbits)
    )
    fp_expr = " + ".join(
        f"(CASE WHEN b{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END)"
        for b in range(nbits)
    )
    chunk_rows = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, simhash, {i} AS chunk, (simhash >> {i * 16}) & 65535 AS key FROM fp"
        for i in range(4)
    )
    return f"""
WITH docs2 AS (
  SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
  FROM {from_tbl}
),
offsets AS (
  SELECT doc_id, t, unnest(generate_series(1, length(t) - 3)) AS i
  FROM docs2 WHERE length(t) >= 4
),
grams AS (
  SELECT DISTINCT doc_id, substr(t, CAST(i AS INT), 4) AS gram FROM offsets
),
hashed AS (
  SELECT doc_id, h16, {h_terms} AS h
  FROM (SELECT doc_id, substr(md5(gram), 1, 15) AS h16 FROM grams)
),
sums AS (
  SELECT doc_id,
    {bit_sums}
  FROM hashed GROUP BY doc_id
),
fp AS (SELECT doc_id, {fp_expr} AS simhash FROM sums),
chunks AS (
{chunk_rows}
),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
    CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
  FROM chunks a JOIN chunks b
    ON a.chunk = b.chunk AND a.key = b.key AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 3
"""


DD_SIMHASH_SQL = _simhash_sql()


def dd_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantified dedup RETRIEVAL quality (the mechanism-parity
    queries dd_minhash_bands / dd_simhash check that the bucket sets
    match the oracle; this one checks that the buckets actually FIND
    planted near-duplicates).

    Every doc_id % 10 == 0 gets a planted variant (id + 200000) whose
    leading (doc_id % 8) * 10 percent of characters are cut — a
    deterministic overlap ladder spanning exact-dup down to ~0.3
    Jaccard (a suffix's gram set is ~a subset, so Jaccard ~ 1 - cut),
    putting real positives on BOTH sides of the truth threshold. Ground truth = planted pairs with exact 5-gram Jaccard
    >= 0.6 (ngram_jaccard_pairs over the planted pairs as candidates —
    exact, no doc-freq cut). Reports, per method over the extended
    corpus:
    candidate volume, truth size, covered truth, recall@0.6 — the
    band/row (4x2 minhash) and hamming<=3 (simhash) operating points.
    Mirrors lk_blocking_quality's shape for blocking strategies."""
    from .operators.dedup import (
        minhash_lsh_candidates,
        ngram_jaccard_pairs,
        simhash_near_dupes,
    )

    d = _docs(spark, sf_dir).select("doc_id", "text")
    src = d.filter(F.col("doc_id") % 10 == 0)
    cut = F.floor((F.col("doc_id") % 8) * F.length("text") / 10).cast("int")
    variants = src.select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.col("text").substr(cut + 1, F.length("text")).alias("text"),
    )
    # Stage-boundary pins, mirroring the oracle's MATERIALIZED CTEs:
    # ext feeds 3 generators and truth feeds every _stats aggregate —
    # unpinned, the exact-Jaccard truth pipeline re-runs 4x and the
    # planted-corpus build 6x. localCheckpoint (not persist) so blocks
    # free with the DataFrames, per the run_linkage staging discipline.
    ext = d.unionByName(variants).localCheckpoint()
    planted = src.select(
        F.col("doc_id").alias("id_a"), (F.col("doc_id") + 200000).alias("id_b")
    )
    truth = ngram_jaccard_pairs(
        ext, candidates=planted, k=5, threshold=0.6
    ).select("id_a", "id_b").localCheckpoint()
    mh = minhash_lsh_candidates(
        ext, k=5, num_hashes=8, bands=4, hash_fn="md5"
    ).select("id_a", "id_b").localCheckpoint()
    sh = simhash_near_dupes(ext, k=4, max_hamming=3, hash_fn="md5_60").select(
        "id_a", "id_b"
    ).localCheckpoint()

    def _stats(method: str, cand: DataFrame) -> DataFrame:
        nt = truth.agg(F.count("*").alias("n_truth"))
        nc = cand.agg(F.count("*").alias("n_candidates"))
        cov = truth.join(cand, ["id_a", "id_b"], "leftsemi").agg(
            F.count("*").alias("n_covered")
        )
        return (
            nt.crossJoin(nc)
            .crossJoin(cov)
            .select(
                F.lit(method).alias("method"),
                "n_truth",
                "n_candidates",
                "n_covered",
                F.round(F.col("n_covered") / F.col("n_truth"), 6).alias("recall"),
            )
        )

    return _stats("minhash_b4r2", mh).unionByName(_stats("simhash_h3", sh))


# Planted-variant corpus shared by truth and both candidate
# generators; the generators are re-targeted at it via from_tbl.
DD_RECALL_SQL = f"""
WITH ext AS MATERIALIZED (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 200000,
    substr(text, CAST(floor((doc_id % 8) * length(text) / 10) AS INT) + 1)
  FROM documents WHERE doc_id % 10 = 0
),
planted AS (
  SELECT doc_id AS id_a, doc_id + 200000 AS id_b
  FROM documents WHERE doc_id % 10 = 0
),
docs5 AS (
  SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
  FROM ext
),
off5 AS (
  SELECT doc_id, t, unnest(generate_series(1, length(t) - 4)) AS i
  FROM docs5 WHERE length(t) >= 5
),
g5 AS (SELECT DISTINCT doc_id, substr(t, CAST(i AS INT), 5) AS gram FROM off5),
sz AS (SELECT doc_id, count(*) AS n FROM g5 GROUP BY doc_id),
tr_inter AS (
  SELECT p.id_a, p.id_b, count(*) AS inter
  FROM planted p
  JOIN g5 a ON a.doc_id = p.id_a
  JOIN g5 b ON b.doc_id = p.id_b AND b.gram = a.gram
  GROUP BY p.id_a, p.id_b
),
truth AS MATERIALIZED (
  SELECT i.id_a, i.id_b
  FROM tr_inter i
  JOIN sz na ON na.doc_id = i.id_a
  JOIN sz nb ON nb.doc_id = i.id_b
  WHERE CAST(i.inter AS DOUBLE) / (na.n + nb.n - i.inter) >= 0.6
),
mh AS MATERIALIZED ({_minhash_sql("ext")}),
sh AS MATERIALIZED ({_simhash_sql("ext")}),
mh_stats AS (
  SELECT (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
         (SELECT CAST(count(*) AS BIGINT) FROM mh) AS n_candidates,
         (SELECT CAST(count(*) AS BIGINT) FROM truth t
           WHERE EXISTS (SELECT 1 FROM mh c
                          WHERE c.id_a = t.id_a AND c.id_b = t.id_b)) AS n_covered
),
sh_stats AS (
  SELECT (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
         (SELECT CAST(count(*) AS BIGINT) FROM sh) AS n_candidates,
         (SELECT CAST(count(*) AS BIGINT) FROM truth t
           WHERE EXISTS (SELECT 1 FROM sh c
                          WHERE c.id_a = t.id_a AND c.id_b = t.id_b)) AS n_covered
)
SELECT 'minhash_b4r2' AS method, n_truth, n_candidates, n_covered,
  round(CAST(n_covered AS DOUBLE) / n_truth, 6) AS recall
FROM mh_stats
UNION ALL
SELECT 'simhash_h3', n_truth, n_candidates, n_covered,
  round(CAST(n_covered AS DOUBLE) / n_truth, 6)
FROM sh_stats
"""


def txt_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc quality signals PLUS the Gopher-style repetition
    signals (operators/text.py quality_metrics + repetition_metrics),
    joined on doc_id over the corpus extended with the planted
    repetition edge-case docs — one oracle row covers both operator
    families. repetition's own n_tokens duplicates quality's and is
    dropped from the join."""
    from .operators.text import LANG_MARKERS, _marker_hits, repetition_metrics

    extra = spark.createDataFrame(REPETITION_EXTRA_DOCS, "doc_id long, text string")
    corpus = _docs(spark, sf_dir).select("doc_id", "text").unionByName(extra)
    # r06: one fused zero-shuffle pass instead of quality JOIN
    # repetition — the quality signals are per-row expressions, so they
    # ride the repetition projection via its `extra` hook (the second
    # corpus scan and the id-equi-join disappear; identical values,
    # identical column order).
    t = F.col("text")
    n_chars = F.length(t)
    n_tokens = token_count(t)
    safe = lambda num, den: F.when(den > 0, F.round(num / den, 4)).otherwise(F.lit(0.0))  # noqa: E731
    fused = repetition_metrics(
        corpus,
        extra={
            "n_chars": n_chars.cast("long"),
            "_q_tokens": n_tokens,
            "mean_token_len": safe(n_chars, n_tokens),
            "punct_ratio": safe(F.regexp_count(t, F.lit("[^A-Za-z0-9\\s]")), n_chars),
            "upper_ratio": safe(F.regexp_count(t, F.lit("[A-Z]")), n_chars),
            "stopword_ratio": safe(_marker_hits(t, LANG_MARKERS["en"]), n_tokens),
        },
    )
    return fused.select(
        "doc_id", "n_chars", F.col("_q_tokens").alias("n_tokens"),
        "mean_token_len", "punct_ratio", "upper_ratio", "stopword_ratio",
        "n_lines", "dup_line_frac", "top_2gram_frac", "dup_5gram_frac",
    )


def _quality_sql(from_tbl: str = "documents") -> str:
    return f"""
SELECT doc_id,
  CAST(length(text) AS BIGINT) AS n_chars,
  CAST(coalesce(CASE WHEN trim(text) = '' THEN 0
       ELSE len(regexp_split_to_array(trim(text), '\\s+')) END, 0) AS BIGINT) AS n_tokens,
  CASE WHEN (CASE WHEN trim(text) = '' THEN 0 ELSE len(regexp_split_to_array(trim(text), '\\s+')) END) > 0
       THEN round(CAST(length(text) AS DOUBLE) / len(regexp_split_to_array(trim(text), '\\s+')), 4)
       ELSE 0.0 END AS mean_token_len,
  CASE WHEN length(text) > 0
       THEN round(CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE) / length(text), 4)
       ELSE 0.0 END AS punct_ratio,
  CASE WHEN length(text) > 0
       THEN round(CAST(len(regexp_extract_all(text, '[A-Z]')) AS DOUBLE) / length(text), 4)
       ELSE 0.0 END AS upper_ratio,
  CASE WHEN (CASE WHEN trim(text) = '' THEN 0 ELSE len(regexp_split_to_array(trim(text), '\\s+')) END) > 0
       THEN round(CAST(len(regexp_extract_all(lower(text), '\\b(the|and|of|to|is|that|with)\\b')) AS DOUBLE)
                  / len(regexp_split_to_array(trim(text), '\\s+')), 4)
       ELSE 0.0 END AS stopword_ratio
FROM {from_tbl}
"""


# TXT_QUALITY_SQL is assembled after _repetition_sql is defined (the
# merged query joins quality and repetition signals over one corpus).


# Non-Latin docs appended to the corpus (the parquet fixture is Latin-
# only): one per script plus the decision-rule edge cases — a Han-
# MAJORITY Japanese sentence (kana priority must beat the zh vote), an
# English sentence quoting one Han char (below the 5% script threshold,
# stopwords must win), and a digits/punct-only doc ('und').
LANGID_EXTRA_DOCS: list[tuple[int, str]] = [
    (900001, "これはテストのためのかなだけの文です"),
    (900002, "你好世界这是一个中文文档没有假名"),
    (900003, "한국어 문서입니다 한글만 있습니다"),
    (900004, "Это русский текст для проверки кириллицы"),
    (900005, "هذا نص عربي للاختبار"),
    (900006, "यह हिंदी में एक परीक्षण दस्तावेज है"),
    (900007, "Αυτό είναι ένα ελληνικό κείμενο δοκιμής"),
    (900008, "The quick brown fox and the lazy dog went to the market 中"),
    (900009, "1234 5678 ---- ????"),
    (900010, "日本国憲法第九条の規定により戦争を放棄する"),
    # Eligibility-threshold pins (SCRIPT_MIN_FRACTION_DEN = 20, i.e.
    # 5%): both docs have ONE Han char; the first has exactly 20
    # non-ws chars (1 * 20 >= 20 -> script-eligible -> zh), the second
    # 21 (ineligible -> stopword vote -> en). The denominator must be
    # CHARACTERS — in UTF-8 bytes (DuckDB strlen) the Han char counts
    # as 3 and both become ineligible, which is exactly the divergence
    # these rows pin.
    (900011, "the and of to is that abc中"),
    (900012, "the and of to is that abcd中"),
]


def txt_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    extra = spark.createDataFrame(LANGID_EXTRA_DOCS, "doc_id long, text string")
    corpus = _docs(spark, sf_dir).select("doc_id", "text").unionByName(extra)
    return lang_id(corpus)


# DuckDB RE2 spells script classes \p{Han}; Java spells them
# \p{IsHan} — same classes, per-dialect syntax.
_DDB_SCRIPTS = [
    ("ja", "[\\p{Hiragana}\\p{Katakana}]"),
    ("zh", "\\p{Han}"),
    ("ko", "\\p{Hangul}"),
    ("ru", "\\p{Cyrillic}"),
    ("ar", "\\p{Arabic}"),
    ("hi", "\\p{Devanagari}"),
    ("el", "\\p{Greek}"),
]


def _langid_sql(corpus_body: str | None = None) -> str:
    from .operators.text import SCRIPT_MIN_FRACTION_DEN as DEN

    hit_cols = ",\n    ".join(
        f"len(regexp_extract_all(lower(text), '\\b({'|'.join(words)})\\b')) AS {lang}"
        for lang, words in LANG_MARKERS.items()
    )
    script_cols = ",\n    ".join(
        f"len(regexp_extract_all(text, '{pat}')) AS s_{lang}"
        for lang, pat in _DDB_SCRIPTS
    )
    elig_cols = ",\n    ".join(
        f"CASE WHEN s_{lang} > 0 AND s_{lang} * {DEN} >= nws THEN s_{lang} ELSE 0 END AS e_{lang}"
        for lang, _ in _DDB_SCRIPTS
    )
    extra_rows = ",\n  ".join(
        f"({i}, '{t}')" for i, t in LANGID_EXTRA_DOCS
    )
    if corpus_body is None:
        corpus_body = (
            "SELECT doc_id, text FROM documents\n"
            "  UNION ALL\n"
            "  SELECT * FROM (VALUES\n  " + extra_rows + "\n  ) t(doc_id, text)"
        )
    # tie-break = first list position with count == max (strict-> chain
    # parity with the Spark side)
    script_pick = "\n       ".join(
        f"WHEN e_{lang} = smx THEN '{lang}'" for lang, _ in _DDB_SCRIPTS[1:]
    )
    return f"""
WITH corpus AS (
  {corpus_body}
),
h AS (
  SELECT doc_id,
    length(regexp_replace(text, '\\s+', '', 'g')) AS nws,
    {script_cols},
    {hit_cols}
  FROM corpus
),
el AS (
  SELECT doc_id, en, es, de, fr,
    {elig_cols}
  FROM h
),
m AS (
  SELECT doc_id, en, es, de, fr, e_ja,
    greatest(e_zh, e_ko, e_ru, e_ar, e_hi, e_el) AS smx,
    e_zh, e_ko, e_ru, e_ar, e_hi, e_el,
    greatest(en, es, de, fr) AS mx
  FROM el
)
SELECT doc_id,
  CASE WHEN e_ja > 0 THEN 'ja'
       WHEN smx > 0 THEN (CASE
       {script_pick}
       END)
       WHEN mx = 0 THEN 'und'
       WHEN en = mx THEN 'en'
       WHEN es = mx THEN 'es'
       WHEN de = mx THEN 'de'
       ELSE 'fr' END AS detected_lang,
  CAST(CASE WHEN e_ja > 0 THEN e_ja
            WHEN smx > 0 THEN smx
            ELSE mx END AS BIGINT) AS lang_score
FROM m
"""


TXT_LANGID_SQL = _langid_sql()


def txt_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting plus the canonical content fingerprint
    (operators/text.py fingerprint — the exact-dedup key exposed for
    lineage tables), merged into one per-doc oracle row."""
    d = _docs(spark, sf_dir)
    from .operators.text import bpe_ish_token_count, fingerprint

    counts = d.select(
        "doc_id",
        token_count(F.col("text")).alias("ws_tokens"),
        bpe_ish_token_count(F.col("text")).alias("bpe_ish_tokens"),
    )
    return counts.join(fingerprint(d), "doc_id")


TXT_TOKENS_SQL = """
SELECT doc_id,
  CAST(CASE WHEN trim(text) = '' THEN 0
       ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT) AS ws_tokens,
  CAST(len(regexp_extract_all(text, '[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9\\s]')) AS BIGINT) AS bpe_ish_tokens,
  md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint
FROM documents
"""


# The parquet fixture docs are single-line word salad (newline-free),
# so line-dup needs planted cases: duplicate lines, a total 2-gram
# loop, a no-repetition doc, single-token / empty edge docs, and a
# case-sensitivity probe (line dedup is case-SENSITIVE, token grams
# are lowercased). ASCII-only so lower() agrees across engines.
REPETITION_EXTRA_DOCS: list[tuple[int, str]] = [
    (910001, "alpha beta\nalpha beta\ngamma delta"),
    (910002, "one two one two one two one two one two"),
    (910003, "unique words only here nothing repeats at all today friend"),
    (910004, "x"),
    (910005, ""),
    (910006, "a b c d e a b c d e a b c d e"),
    (910007, "Line One\nline one\nLINE ONE"),
]


def _repetition_sql(corpus_body: str | None = None) -> str:
    extra_rows = ",\n  ".join(
        "({}, '{}')".format(i, t.replace("\n", "' || chr(10) || '"))
        for i, t in REPETITION_EXTRA_DOCS
    )
    if corpus_body is None:
        corpus_body = (
            "SELECT doc_id, text FROM documents\n"
            "  UNION ALL\n"
            "  SELECT * FROM (VALUES\n  " + extra_rows + "\n  ) t(doc_id, text)"
        )
    return f"""
WITH corpus AS (
  {corpus_body}
),
tok AS (
  -- coalesce mirrors the operator: NULL text = all-zero row, not NULLs
  SELECT doc_id,
    list_filter(list_transform(regexp_split_to_array(coalesce(text, ''), chr(10)),
                               x -> trim(x)), x -> x <> '') AS larr,
    list_filter(regexp_split_to_array(lower(trim(coalesce(text, ''))), '\\s+'),
                x -> x <> '') AS toks
  FROM corpus
),
g2 AS (
  SELECT doc_id,
    unnest(list_transform(range(1, len(toks)),
                          i -> toks[i] || ' ' || toks[i+1])) AS gram
  FROM tok
),
g5 AS (
  SELECT doc_id,
    unnest(CASE WHEN len(toks) >= 5
           THEN list_transform(range(1, len(toks) - 3),
                               i -> array_to_string(toks[i:i+4], ' '))
           ELSE [] END) AS gram
  FROM tok
),
a2 AS (
  SELECT doc_id, max(c) AS max2
  FROM (SELECT doc_id, gram, count(*) AS c FROM g2 GROUP BY 1, 2)
  GROUP BY 1
),
a5 AS (
  SELECT doc_id, sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup5
  FROM (SELECT doc_id, gram, count(*) AS c FROM g5 GROUP BY 1, 2)
  GROUP BY 1
)
SELECT t.doc_id,
  CAST(len(larr) AS BIGINT) AS n_lines,
  CAST(len(toks) AS BIGINT) AS n_tokens,
  CASE WHEN len(larr) > 0
       THEN round(1.0 - CAST(len(list_distinct(larr)) AS DOUBLE) / len(larr), 4)
       ELSE 0.0 END AS dup_line_frac,
  CASE WHEN max2 IS NOT NULL AND len(toks) > 0
       THEN round(least(1.0, (CAST(max2 AS DOUBLE) * 2.0) / CAST(len(toks) AS DOUBLE)), 4)
       ELSE 0.0 END AS top_2gram_frac,
  CASE WHEN dup5 IS NOT NULL AND len(toks) > 0
       THEN round(least(1.0, (CAST(dup5 AS DOUBLE) * 5.0) / CAST(len(toks) AS DOUBLE)), 4)
       ELSE 0.0 END AS dup_5gram_frac
FROM tok t LEFT JOIN a2 USING (doc_id) LEFT JOIN a5 USING (doc_id)
"""


# Merged quality + repetition oracle: both signal families over the
# SAME corpus (documents + planted repetition edge cases), joined on
# doc_id; repetition's n_tokens is dropped (duplicate of quality's).
_REPETITION_EXTRA_VALUES = ",\n  ".join(
    "({}, '{}')".format(i, t.replace("\n", "' || chr(10) || '"))
    for i, t in REPETITION_EXTRA_DOCS
)
# Outer CTE is named qcorpus, NOT corpus: _repetition_sql's own inner
# CTE is called corpus, and "corpus AS (... FROM corpus)" reads as a
# recursive self-reference to DuckDB (internal planner error).
TXT_QUALITY_SQL = f"""
WITH qcorpus AS MATERIALIZED (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT * FROM (VALUES
  {_REPETITION_EXTRA_VALUES}
  ) t(doc_id, text)
),
q AS ({_quality_sql("qcorpus")}),
r AS ({_repetition_sql("SELECT doc_id, text FROM qcorpus")})
SELECT q.*, r.n_lines, r.dup_line_frac, r.top_2gram_frac, r.dup_5gram_frac
FROM q JOIN r USING (doc_id)
"""


# Line-dedup needs cross-document repeated LINES; the parquet fixture
# docs are newline-free (each doc = one line, and the fixture's exact
# duplicates exercise the whole-doc-as-line path), so multi-line
# boilerplate cases are planted: a footer shared by three docs, a doc
# that is ALL boilerplate (must come back with clean_text ''), a
# case-variant footer (normalization lowercases, output preserves the
# original line), and blank lines (always dropped, excluded from the
# line counts).
LINEDEDUP_EXTRA_DOCS: list[tuple[int, str]] = [
    (920001, "unique content alpha\nSubscribe to our newsletter\nmore alpha text"),
    (920002, "unique content beta\nSubscribe to our newsletter"),
    (920003, "Subscribe to our newsletter\nCookie policy applies"),
    (920004, "Subscribe to our newsletter\nCookie policy applies"),
    (920005, "SUBSCRIBE   TO OUR    NEWSLETTER\ngamma only line"),
    (920006, "delta solo line\n\n   \ndelta second line"),
]


def dd_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import line_dedup

    extra = spark.createDataFrame(LINEDEDUP_EXTRA_DOCS, "doc_id long, text string")
    corpus = _docs(spark, sf_dir).select("doc_id", "text").unionByName(extra)
    return line_dedup(corpus, min_docs=2, hash_fn="md5")


def _line_dedup_sql(corpus_body: str | None = None, min_docs: int = 2) -> str:
    extra_rows = ",\n  ".join(
        "({}, '{}')".format(i, t.replace("\n", "' || chr(10) || '"))
        for i, t in LINEDEDUP_EXTRA_DOCS
    )
    if corpus_body is None:
        corpus_body = (
            "SELECT doc_id, text FROM documents\n"
            "  UNION ALL\n"
            "  SELECT * FROM (VALUES\n  " + extra_rows + "\n  ) t(doc_id, text)"
        )
    return f"""
WITH corpus AS (
  {corpus_body}
),
lx AS (
  SELECT doc_id,
    unnest(range(1, len(larr) + 1)) AS pos,
    unnest(larr) AS line
  FROM (SELECT doc_id,
          regexp_split_to_array(coalesce(text, ''), chr(10)) AS larr
        FROM corpus)
),
nz AS (
  SELECT doc_id, pos, line,
    md5(regexp_replace(lower(trim(line)), '\\s+', ' ', 'g')) AS k
  FROM lx
  WHERE regexp_replace(lower(trim(line)), '\\s+', ' ', 'g') <> ''
),
boiler AS (
  SELECT k FROM (SELECT k, count(DISTINCT doc_id) AS nd FROM nz GROUP BY k)
  WHERE nd >= {min_docs}
),
kept AS (SELECT * FROM nz WHERE k NOT IN (SELECT k FROM boiler)),
reb AS (
  SELECT doc_id,
    string_agg(line, chr(10) ORDER BY pos) AS clean_text,
    count(*) AS n_kept
  FROM kept GROUP BY doc_id
),
tot AS (SELECT doc_id, count(*) AS n_lines FROM nz GROUP BY doc_id)
SELECT c.doc_id,
  coalesce(clean_text, '') AS clean_text,
  CAST(coalesce(n_kept, 0) AS BIGINT) AS n_lines_kept,
  CAST(coalesce(n_lines, 0) - coalesce(n_kept, 0) AS BIGINT) AS n_lines_dropped
FROM corpus c LEFT JOIN tot USING (doc_id) LEFT JOIN reb USING (doc_id)
"""


DD_LINE_DEDUP_SQL = _line_dedup_sql()


# Verdict-diversity cases for the composed filter: a too-short doc, a
# length-passing total 2-gram loop (fails repetition), an all-distinct
# Cyrillic doc (fails only the language gate), and a multi-line
# English doc inside every threshold (dup_line 0.25 <= 0.3 passes).
FILTER_EXTRA_DOCS: list[tuple[int, str]] = [
    (930001, "way too short to keep"),
    (
        930002,
        "click here click here click here click here click here "
        "click here click here click here click here click here",
    ),
    (
        930003,
        "один два три четыре пять шесть семь восемь девять десять "
        "одиннадцать двенадцать тринадцать четырнадцать пятнадцать "
        "шестнадцать семнадцать восемнадцать девятнадцать двадцать "
        "сорок пятьдесят шестьдесят семьдесят",
    ),
    (
        # passes EVERY gate: dup_line 0.25 <= 0.3 (the dup line is 3
        # tokens, too short to double any 5-gram; a duplicated >=5
        # token line caps dup_5gram at 1.0 and fails — that case is
        # covered by the fixture corpus), top-2gram 4/28 <= 0.2
        930004,
        "the quick brown fox jumps over the lazy dog near the river\n"
        "newsletter signup below\n"
        "a second line with more of the usual english filler words\n"
        "newsletter signup below",
    ),
]


def txt_filter_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text import text_filter_pipeline

    extra = spark.createDataFrame(FILTER_EXTRA_DOCS, "doc_id long, text string")
    corpus = _docs(spark, sf_dir).select("doc_id", "text").unionByName(extra)
    return text_filter_pipeline(corpus)


def _filter_sql(corpus_body: str | None = None) -> str:
    from .operators.text import FILTER_LANG, FILTER_RULES as R

    extra_rows = ",\n  ".join(
        "({}, '{}')".format(i, t.replace("\n", "' || chr(10) || '"))
        for i, t in FILTER_EXTRA_DOCS
    )
    if corpus_body is None:
        corpus_body = (
            "SELECT doc_id, text FROM documents\n"
            "  UNION ALL\n"
            "  SELECT * FROM (VALUES\n  " + extra_rows + "\n  ) t(doc_id, text)"
        )
    body = "SELECT doc_id, text FROM docs"
    qual = _quality_sql(from_tbl="docs")
    # AS MATERIALIZED: the corpus CTE feeds three sub-oracles; without
    # it DuckDB re-opens the parquet per reference (fd exhaustion on
    # chained oracles).
    # The entry coalesce mirrors text_filter_pipeline's: every verdict
    # is computed on NULL-text-as-empty, never NULL-propagated.
    return f"""
WITH docs AS MATERIALIZED (
  SELECT doc_id, coalesce(text, '') AS text FROM ({corpus_body}) corpus_in
),
q AS ({qual}),
r AS ({_repetition_sql(body)}),
l AS ({_langid_sql(body)})
SELECT q.doc_id, q.n_tokens, l.detected_lang,
  (q.n_tokens >= {R["min_tokens"]} AND q.n_tokens <= {R["max_tokens"]}) AS pass_len,
  (q.mean_token_len >= {R["min_mean_len"]} AND q.mean_token_len <= {R["max_mean_len"]}) AS pass_word_len,
  (r.dup_line_frac <= {R["max_dup_line"]} AND r.top_2gram_frac <= {R["max_top2"]}
   AND r.dup_5gram_frac <= {R["max_dup5"]}) AS pass_rep,
  (l.detected_lang = '{FILTER_LANG}') AS pass_lang,
  ((q.n_tokens >= {R["min_tokens"]} AND q.n_tokens <= {R["max_tokens"]})
   AND (q.mean_token_len >= {R["min_mean_len"]} AND q.mean_token_len <= {R["max_mean_len"]})
   AND (r.dup_line_frac <= {R["max_dup_line"]} AND r.top_2gram_frac <= {R["max_top2"]}
        AND r.dup_5gram_frac <= {R["max_dup5"]})
   AND l.detected_lang = '{FILTER_LANG}') AS keep
FROM q JOIN r USING (doc_id) JOIN l USING (doc_id)
"""


TXT_FILTER_SQL = _filter_sql()


# Corpus-pipeline extras: two docs whose RAW text differs only by
# boilerplate footers and become byte-identical AFTER line dedup (the
# exact-dup stage must catch what line dedup exposes — with min_docs=3
# the duplicated payload pair itself stays below the boilerplate
# threshold, which is why the composition runs at 3, the realistic
# CCNet setting, while each footer is planted in three docs), plus
# filler docs that carry the footers past the threshold and pass every
# filter gate themselves.
_CORPUS_PAYLOAD = (
    "the payload of the record stays exactly the same in both pages\n"
    "and the second line of the payload is also identical here"
)
CORPUS_EXTRA_DOCS: list[tuple[int, str]] = [
    (940001, _CORPUS_PAYLOAD + "\nFooter Alpha Bar Navigation"),
    (940002, _CORPUS_PAYLOAD + "\nFooter Beta Bar Navigation"),
    (940003, "Footer Alpha Bar Navigation\nthe first filler keeps plenty of "
             "english words with the usual mix of the and that for language "
             "detection and the length gate alike"),
    (940004, "Footer Beta Bar Navigation\nthe second filler is another set of "
             "ordinary english words that keep the quality gates happy today "
             "and tomorrow and the day after"),
    (940005, "Footer Alpha Bar Navigation\nthe third filler with the brown fox "
             "and the lazy dog to make the stopword counters vote english "
             "without any doubt at all here"),
    (940006, "Footer Beta Bar Navigation\nthe fourth filler where the words "
             "keep flowing with the calm rhythm of that simple english prose "
             "until the very end of it"),
]

_CORPUS_MIN_DOCS = 3


def txt_corpus_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-data corpus pipeline as ONE lazy plan: CCNet line
    dedup (boilerplate removal, min_docs=3) -> C4/Gopher quality
    filter on the CLEANED text -> exact dedup among the keepers.
    One row per input doc: (doc_id, n_lines_dropped, n_tokens,
    detected_lang, keep, status, canonical_id) where status is
    'filtered' (failed a quality gate), 'exact_dup' (identical
    post-clean to an earlier keeper), or 'kept'. Ordering matters and
    is the standard crawl architecture: boilerplate strip FIRST so the
    filter judges real content, dedup LAST so near-identical pages
    that differ only in chrome collapse (the planted 940001/940002
    pair is byte-different raw and byte-identical cleaned).

    100 TB posture: every stage is the audited linear-shuffle operator
    (line_dedup three keyed shuffles; quality/langid zero-shuffle
    WSCG; exact dedup one shuffle on a 16-byte key); the stages chain
    lazily with no driver materialization."""
    from .operators.dedup import exact_duplicates, line_dedup
    from .operators.text import text_filter_pipeline

    extra = spark.createDataFrame(
        LINEDEDUP_EXTRA_DOCS + FILTER_EXTRA_DOCS + CORPUS_EXTRA_DOCS,
        "doc_id long, text string",
    )
    corpus = _docs(spark, sf_dir).select("doc_id", "text").unionByName(extra)
    # Pin the two stage boundaries every downstream consumer shares
    # (r06, guide §5): `cleaned` feeds the filter, the keeper semi-join
    # AND the final report join; `verd` feeds the semi-join and the
    # report. Unpinned, the 3-shuffle line-dedup subtree re-ran once
    # per consumer (measured: 11.5 s full vs ~6 s of distinct work).
    # Both pins outlive this call: the caller's cache_scope() around
    # the collect releases them (bench.py clears the cache instead).
    cleaned = pin(line_dedup(corpus, min_docs=_CORPUS_MIN_DOCS, hash_fn="md5"))
    cdocs = cleaned.select("doc_id", F.col("clean_text").alias("text"))
    verd = pin(text_filter_pipeline(cdocs))
    kept = cdocs.join(
        verd.where(F.col("keep")).select("doc_id"), "doc_id", "leftsemi"
    )
    ex = exact_duplicates(kept)
    return (
        cleaned.select("doc_id", "n_lines_dropped")
        .join(verd.select("doc_id", "n_tokens", "detected_lang", "keep"), "doc_id")
        .join(ex.select("doc_id", "canonical_id"), "doc_id", "left")
        .select(
            "doc_id",
            "n_lines_dropped",
            "n_tokens",
            "detected_lang",
            "keep",
            F.when(~F.col("keep"), F.lit("filtered"))
            .when(
                F.col("canonical_id").isNull()
                | (F.col("canonical_id") == F.col("doc_id")),
                F.lit("kept"),
            )
            .otherwise(F.lit("exact_dup"))
            .alias("status"),
            F.coalesce(F.col("canonical_id"), F.col("doc_id")).alias(
                "canonical_id"
            ),
        )
    )


def _corpus_sql() -> str:
    extra_rows = ",\n  ".join(
        "({}, '{}')".format(i, t.replace("\n", "' || chr(10) || '"))
        for i, t in LINEDEDUP_EXTRA_DOCS + FILTER_EXTRA_DOCS + CORPUS_EXTRA_DOCS
    )
    clean_sql = _line_dedup_sql(
        "SELECT doc_id, text FROM corpus0", min_docs=_CORPUS_MIN_DOCS
    )
    verd_sql = _filter_sql("SELECT doc_id, clean_text AS text FROM cleanres")
    return f"""
WITH corpus0 AS MATERIALIZED (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT * FROM (VALUES
  {extra_rows}
  ) t(doc_id, text)
),
cleanres AS MATERIALIZED ({clean_sql}),
verd AS MATERIALIZED ({verd_sql}),
kept AS (
  SELECT c.doc_id, c.clean_text FROM cleanres c
  JOIN verd USING (doc_id) WHERE verd.keep
),
hashed AS (
  SELECT doc_id,
    md5(regexp_replace(lower(trim(clean_text)), '\\s+', ' ', 'g')) AS h
  FROM kept
),
grp AS (
  SELECT h, min(doc_id) AS canonical_id FROM hashed
  GROUP BY h HAVING count(*) >= 2
),
ex AS (SELECT hashed.doc_id, grp.canonical_id FROM hashed JOIN grp USING (h))
SELECT c.doc_id, c.n_lines_dropped, v.n_tokens, v.detected_lang, v.keep,
  CASE WHEN NOT v.keep THEN 'filtered'
       WHEN ex.canonical_id IS NULL OR ex.canonical_id = c.doc_id THEN 'kept'
       ELSE 'exact_dup' END AS status,
  coalesce(ex.canonical_id, c.doc_id) AS canonical_id
FROM cleanres c
JOIN verd v USING (doc_id)
LEFT JOIN ex USING (doc_id)
"""


TXT_CORPUS_SQL = _corpus_sql()


def wp_url_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style URL prefilter (operators/web.py::url_filter) over
    deterministically synthesized frontier URLs: blocked asset
    extensions (case-varied), non-http schemes, dotless hosts, query
    strings that must NOT count toward the extension, extension-less
    paths. The oracle replays every regexp in DuckDB."""
    from .operators.web import url_filter

    p = persons_a(spark, sf_dir).select("id")
    g = F.col("id") % 300
    scheme = (
        F.when(F.col("id") % 5 == 0, F.lit("ftp://"))
        .when(F.col("id") % 5 == 1, F.lit("HTTPS://"))
        .otherwise(F.lit("http://"))
    )
    userinfo = F.when(F.col("id") % 11 == 3, F.lit("u:p@")).otherwise(F.lit(""))
    port = F.when(F.col("id") % 13 == 2, F.lit(":8080")).otherwise(F.lit(""))
    host = (
        F.when(F.col("id") % 4 == 0, F.lit("localhost"))
        .when(F.col("id") % 4 == 1, F.concat(F.lit("Site"), (g % 97).cast("string"), F.lit(".Example")))
        .otherwise(F.concat(F.lit("site"), (g % 97).cast("string"), F.lit(".example")))
    )
    path = (
        F.when(F.col("id") % 6 == 0, F.lit("/assets/app.css"))
        .when(F.col("id") % 6 == 1, F.lit("/img/logo.PNG"))
        .when(F.col("id") % 6 == 2, F.lit("/index.html"))
        .when(F.col("id") % 6 == 3, F.concat(F.lit("/page"), g.cast("string")))
        .when(F.col("id") % 6 == 4, F.lit("/files/archive.tar"))
        .otherwise(F.lit("/doc.php?x=1.css"))
    )
    return url_filter(
        p.select(F.concat(scheme, userinfo, host, port, path).alias("url"))
    )


def _url_filter_sql() -> str:
    from .operators.web import BLOCKED_URL_EXTENSIONS

    blocked = ", ".join(f"'{e}'" for e in BLOCKED_URL_EXTENSIONS)
    return f"""
WITH RECURSIVE pa AS ({PERSONS_A_SQL}),
urls AS (
  SELECT
    (CASE WHEN id % 5 = 0 THEN 'ftp://'
          WHEN id % 5 = 1 THEN 'HTTPS://' ELSE 'http://' END)
    || (CASE WHEN id % 11 = 3 THEN 'u:p@' ELSE '' END)
    || (CASE WHEN id % 4 = 0 THEN 'localhost'
             WHEN id % 4 = 1 THEN 'Site' || CAST((id % 300) % 97 AS VARCHAR) || '.Example'
             ELSE 'site' || CAST((id % 300) % 97 AS VARCHAR) || '.example' END)
    || (CASE WHEN id % 13 = 2 THEN ':8080' ELSE '' END)
    || (CASE WHEN id % 6 = 0 THEN '/assets/app.css'
             WHEN id % 6 = 1 THEN '/img/logo.PNG'
             WHEN id % 6 = 2 THEN '/index.html'
             WHEN id % 6 = 3 THEN '/page' || CAST(id % 300 AS VARCHAR)
             WHEN id % 6 = 4 THEN '/files/archive.tar'
             ELSE '/doc.php?x=1.css' END) AS url
  FROM pa
),
parts AS (
  SELECT url,
    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
    regexp_replace(regexp_replace(
      lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)),
      '^[^@]*@', ''), ':[0-9]+$', '') AS host,
    lower(regexp_extract(
      regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1),
      '\\.([A-Za-z0-9]{{1,5}})$', 1)) AS ext
  FROM urls
),
v AS (
  SELECT url, scheme, host, ext,
    scheme IN ('http', 'https') AS pass_scheme,
    regexp_matches(host, '^[a-z0-9.-]+\\.[a-z]{{2,}}$') AS pass_host,
    ext NOT IN ({blocked}) AS pass_ext
  FROM parts
)
SELECT url, scheme, host, ext, pass_scheme, pass_host, pass_ext,
  (pass_scheme AND pass_host AND pass_ext) AS keep
FROM v
"""


WP_URL_FILTER_SQL = _url_filter_sql()


# PII cases planted into the corpus (the parquet fixture is digit-free
# word salad): multiple emails, dotted quads, phone shapes, a
# mixed-kind doc, a clean doc, and the documented over-match cases
# (a dotted version string redacts as an IP, a dashed date as a
# phone — redaction-side-safe behavior, deterministic in both
# engines).
PII_EXTRA_DOCS: list[tuple[int, str]] = [
    (950001, "contact me at john.doe@example.com or jane@sub.example.org thanks"),
    (950002, "server at 192.168.0.1 and 10.0.0.255 went down"),
    (950003, "call +1 555 123 4567 or 0800-444-333 for help"),
    (950004, "mixed: bob@x.io from 8.8.8.8 phone 02-1234-5678"),
    (950005, "no pii here at all just text"),
    (950006, "version 1.2.3.4 of the package released 2026-08-17"),
]


def txt_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text import redact_pii

    extra = spark.createDataFrame(PII_EXTRA_DOCS, "doc_id long, text string")
    corpus = _docs(spark, sf_dir).select("doc_id", "text").unionByName(extra)
    return redact_pii(corpus)


def _pii_sql() -> str:
    from .operators.text import PII_ORDER, PII_PATTERNS

    extra_rows = ",\n  ".join(f"({i}, '{t}')" for i, t in PII_EXTRA_DOCS)
    token = {"email": "|||EMAIL|||", "ipv4": "|||IP|||", "phone": "|||PHONE|||"}
    # The fold: each rule counts on, then rewrites, the previous
    # rule's output — one chained CTE per PII kind, mirroring the
    # operator's fixed application order.
    steps, prev = [], "coalesce(text, '')"
    count_cols = []
    for kind in PII_ORDER:
        pat = PII_PATTERNS[kind].replace("'", "''")
        steps.append(
            f"CAST(len(regexp_extract_all({prev}, '{pat}')) AS BIGINT) AS n_{kind}"
        )
        count_cols.append(f"n_{kind}")
        prev = f"regexp_replace({prev}, '{pat}', '{token[kind]}', 'g')"
    steps_sql = ",\n  ".join(steps)
    return f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT * FROM (VALUES
  {extra_rows}
  ) t(doc_id, text)
)
SELECT doc_id,
  {prev} AS redacted_text,
  {steps_sql}
FROM corpus
"""


TXT_PII_SQL = _pii_sql()


def wp_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host corpus stats (operators/web.py::domain_stats) over the
    shared messy-URL fixture: the table a domain-mixing / per-site
    capping policy reads. Case-varied hosts and www prefixes must fold
    into one host row; ports must NOT leak into the host."""
    from .operators.web import domain_stats

    return domain_stats(_messy_urls(spark, sf_dir))





def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 53 == 0)
    return cosine_topk(emb, queries, k=5)


SIM_COSINE_SQL = """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id % 53 = 0),
scored AS (
  SELECT q.query_id, c.vec_id AS corpus_id,
    round(list_dot_product(q.qv, c.v)
          / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.v, c.v))), 4) AS cosine
  FROM q JOIN e c ON c.vec_id <> q.query_id
)
SELECT query_id, corpus_id, cosine, rank FROM (
  SELECT query_id, corpus_id, cosine,
    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id) AS INT) AS rank
  FROM scored
) WHERE rank <= 5
"""


def sim_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN. The hyperplanes are exact-binary-fraction
    literals shared with the DuckDB oracle (same LCG), so the entire
    path — signatures, bucket join, candidate re-rank — hash-checks."""
    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 53 == 0)
    return lsh_cosine_topk(emb, queries, dim=64, k=5, bits=8, tables=4)


def _hyperplane_sigs_sql(src: str, planes) -> str:
    """UNION-ALL signature rows for ``src`` (vec_id, v) over the shared
    lsh_hyperplanes(dim=64, bits=8, tables=4, seed=42) literals — ONE
    builder for every hyperplane oracle (_lsh_sql, _embed_neardup_sql):
    a precision or bit-order tweak must hit them all or none."""

    def sig_expr(t: int) -> str:
        bits = []
        for b in range(len(planes[t])):
            arr = "[" + ",".join(repr(p) for p in planes[t][b]) + "]"
            bits.append(
                f"(CASE WHEN list_dot_product(v, {arr}) >= 0 THEN '1' ELSE '0' END)"
            )
        return " || ".join(bits)

    # ranges derive from the planes ARGUMENT: a call-site bits/tables
    # change must change the emitted SQL, not silently truncate it
    return "\n  UNION ALL\n".join(
        f"  SELECT vec_id AS id, {t} AS tbl, {sig_expr(t)} AS sig FROM {src}"
        for t in range(len(planes))
    )


def _lsh_sql() -> str:
    from .operators.simsearch import lsh_hyperplanes

    planes = lsh_hyperplanes(dim=64, bits=8, tables=4, seed=42)

    def sigs(src: str) -> str:
        return _hyperplane_sigs_sql(src, planes)

    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
q AS (SELECT vec_id, v FROM e WHERE vec_id % 53 = 0),
csig AS (
{sigs("e")}
),
qsig AS (
{sigs("q")}
),
cand AS (
  SELECT DISTINCT qs.id AS query_id, cs.id AS corpus_id
  FROM csig cs JOIN qsig qs ON cs.tbl = qs.tbl AND cs.sig = qs.sig
  WHERE cs.id <> qs.id
),
scored AS (
  SELECT cand.query_id, cand.corpus_id,
    round(list_dot_product(qe.v, ce.v)
          / (sqrt(list_dot_product(qe.v, qe.v)) * sqrt(list_dot_product(ce.v, ce.v))), 4) AS cosine
  FROM cand
  JOIN e qe ON qe.vec_id = cand.query_id
  JOIN e ce ON ce.vec_id = cand.corpus_id
)
SELECT query_id, corpus_id, cosine, rank FROM (
  SELECT query_id, corpus_id, cosine,
    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id) AS INT) AS rank
  FROM scored
) WHERE rank <= 5
"""


SIM_LSH_SQL = _lsh_sql()


def dd_embed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup (the semantic dedup tier): the corpus
    is the embeddings table plus deterministic perturbed twins (every
    10th vector + a small arithmetic wobble, cosine ~0.988 vs a 0.51
    background max), so the operator has real positives to find. The
    oracle replays the identical LSH planes + twin arithmetic, so
    signatures, bucket join, and cosine re-check all hash-check."""
    from .operators.dedup import embedding_neardup_pairs

    e = _read(spark, sf_dir, "embeddings")
    base = e.select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("v"),
    )
    # orig_id alias: inside this select, "vec_id" would lateral-resolve
    # to the NEW (+1000000) alias, silently shifting the wobble phase.
    twins = (
        base.filter(F.col("vec_id") % 10 == 0)
        .select(F.col("vec_id").alias("orig_id"), "v")
        .select(
            (F.col("orig_id") + 1000000).alias("vec_id"),
            F.transform(
                F.sequence(F.lit(1), F.lit(64)),
                lambda i: F.element_at(F.col("v"), i)
                + F.lit(0.01) * ((F.col("orig_id") + i) % 7 - 3).cast("double"),
            ).alias("v"),
        )
    )
    vectors = base.unionByName(twins)
    return embedding_neardup_pairs(
        vectors, id_col="vec_id", vec_col="v", dim=64, threshold=0.98
    )


def _embed_neardup_sql() -> str:
    from .operators.simsearch import lsh_hyperplanes

    planes = lsh_hyperplanes(dim=64, bits=8, tables=4, seed=42)
    sigs = _hyperplane_sigs_sql("vecs", planes)
    cos = (
        "list_dot_product(va.v, vb.v) / (sqrt(list_dot_product(va.v, va.v))"
        " * sqrt(list_dot_product(vb.v, vb.v)))"
    )
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
tw AS (
  SELECT e.vec_id + 1000000 AS vec_id,
    list_transform(range(1, 65),
                   i -> v[i] + 0.01 * CAST((e.vec_id + i) % 7 - 3 AS DOUBLE)) AS v
  FROM e WHERE e.vec_id % 10 = 0
),
vecs AS (SELECT * FROM e UNION ALL SELECT * FROM tw),
sig AS (
{sigs}
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM sig a JOIN sig b ON a.tbl = b.tbl AND a.sig = b.sig AND a.id < b.id
),
scored AS (
  SELECT cand.id_a, cand.id_b, round({cos}, 4) AS cosine
  FROM cand
  JOIN vecs va ON va.vec_id = cand.id_a
  JOIN vecs vb ON vb.vec_id = cand.id_b
)
SELECT id_a, id_b, cosine FROM scored WHERE cosine >= 0.98
"""


DD_EMBED_NEARDUP_SQL = _embed_neardup_sql()


def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: deterministic coarse quantizer (corpus rows with
    vec_id % 37 == 1 as centroids), nprobe=4, exact re-rank."""
    from .operators.simsearch import ivf_cosine_topk

    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 53 == 0)
    return ivf_cosine_topk(emb, queries, centroid_stride=37, nprobe=4, k=5)


SIM_IVF_SQL = """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
cent AS (SELECT vec_id AS cid, v AS cvec FROM e WHERE vec_id % 37 = 1),
q AS (SELECT vec_id, v FROM e WHERE vec_id % 53 = 0),
corpus_scored AS (
  SELECT e.vec_id AS corpus_id, cent.cid,
    1.0 - list_dot_product(e.v, cent.cvec)
        / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cent.cvec, cent.cvec))) AS dist
  FROM e CROSS JOIN cent
),
lists AS (
  SELECT corpus_id, cid FROM (
    SELECT corpus_id, cid,
      row_number() OVER (PARTITION BY corpus_id ORDER BY dist, cid) AS r
    FROM corpus_scored
  ) WHERE r = 1
),
query_scored AS (
  SELECT q.vec_id AS query_id, cent.cid,
    1.0 - list_dot_product(q.v, cent.cvec)
        / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(cent.cvec, cent.cvec))) AS dist
  FROM q CROSS JOIN cent
),
probes AS (
  SELECT query_id, cid FROM (
    SELECT query_id, cid,
      row_number() OVER (PARTITION BY query_id ORDER BY dist, cid) AS r
    FROM query_scored
  ) WHERE r <= 4
),
cand AS (
  SELECT DISTINCT probes.query_id, lists.corpus_id
  FROM lists JOIN probes ON lists.cid = probes.cid
  WHERE lists.corpus_id <> probes.query_id
),
scored AS (
  SELECT cand.query_id, cand.corpus_id,
    round(list_dot_product(qe.v, ce.v)
          / (sqrt(list_dot_product(qe.v, qe.v)) * sqrt(list_dot_product(ce.v, ce.v))), 4) AS cosine
  FROM cand
  JOIN e qe ON qe.vec_id = cand.query_id
  JOIN e ce ON ce.vec_id = cand.corpus_id
)
SELECT query_id, corpus_id, cosine, rank FROM (
  SELECT query_id, corpus_id, cosine,
    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id) AS INT) AS rank
  FROM scored
) WHERE rank <= 5
"""


def mm_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: synthesize a binary media column from the
    documents table, run the mapInPandas feature extractor (fake
    decode; see operators/multimodal.py). The fake decode is
    deterministic (md5-derived), so the whole mapInPandas path
    hash-checks against a DuckDB mirror."""
    d = _docs(spark, sf_dir).select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "UTF-8").alias("content"),
        F.lit("image/fake").alias("mime"),
    )
    out = extract_media_features(d, fake=True)
    return out.select(
        "media_id",
        "mime",
        "n_bytes",
        "digest",
        F.round(F.element_at("feature", 1).cast("double"), 4).alias("f0"),
    )


def mm_decode_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL multimodal decode: deterministic BMP/PNG/JPEG images / WAV
    audio are synthesized per doc_id (closed-form pixel/sample values),
    serialized to actual file bytes, then parsed back by the pure-numpy
    decoders in operators/multimodal.py inside mapInPandas. The DuckDB
    twin computes the expected pixel/sample statistics straight from the
    generative formula — so the byte-level parse (headers, padding,
    bottom-up rows, chunk walks, and for PNG the zlib inflate + scanline
    unfiltering: filter_seed=media_id cycles all five filter types
    across rows and splits IDAT in two) is what the hash check
    exercises. No rounding on either side: all arithmetic is
    exact-integer-in-double plus one correctly-rounded sqrt, so the
    doubles are bit-identical."""
    import numpy as np
    import pandas as pd

    from .operators.jpeg import encode_jpeg
    from .operators.multimodal import (
        encode_bmp,
        encode_png,
        encode_wav,
        extract_decoded_features,
    )

    d = _docs(spark, sf_dir).select(F.col("doc_id").cast("long").alias("media_id"))

    def gen(batches):
        for pdf in batches:
            rows = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                if mid % 6 == 0:
                    w, h = 4 + mid % 5, 3 + mid % 4
                    y, x = np.mgrid[0:h, 0:w]
                    px = np.stack(
                        [
                            (13 * mid + 2 * x + y) % 256,
                            (11 * mid + x + 2 * y) % 256,
                            (7 * mid + 3 * x + 5 * y) % 256,
                        ],
                        axis=-1,
                    ).astype(np.uint8)
                    rows.append((mid, "image/bmp", encode_bmp(px)))
                elif mid % 6 == 3:
                    # Baseline JPEG at quality=100, constant within each
                    # 8x8 tile and gray (Cb=Cr=128): reconstruction is
                    # bit-exact (operators/jpeg.py exactness contract),
                    # so pixel means stay closed-form while the bytes
                    # traverse Huffman DC-diff coding, the MCU
                    # interleave, 4:2:0 upsampling and RST markers.
                    w, h = 5 + mid % 13, 4 + mid % 11
                    y, x = np.mgrid[0:h, 0:w]
                    g = ((29 * mid + 13 * (x // 8) + 7 * (y // 8)) % 256).astype(
                        np.uint8
                    )
                    variant = (mid // 6) % 3
                    if variant == 0:  # 1-component grayscale scan
                        blob = encode_jpeg(g, quality=100)
                    elif variant == 1:  # 3-component 4:4:4
                        blob = encode_jpeg(
                            np.stack([g, g, g], axis=-1), quality=100
                        )
                    else:  # 4:2:0 interleaved MCUs + restart markers
                        blob = encode_jpeg(
                            np.stack([g, g, g], axis=-1),
                            quality=100,
                            subsample="420",
                            restart_interval=1,
                        )
                    rows.append((mid, "image/jpeg", blob))
                elif mid % 3 == 1:
                    n = 64 + mid % 64
                    rate = 8000 + (mid % 4) * 4000
                    i = np.arange(n)
                    v = ((31 * mid + 17 * i) % 65536 - 32768).astype(np.int16)
                    rows.append((mid, "audio/wav", encode_wav(v, rate)))
                else:
                    w, h = 3 + mid % 6, 2 + mid % 5
                    y, x = np.mgrid[0:h, 0:w]
                    px = np.stack(
                        [
                            (17 * mid + 3 * x + 2 * y) % 256,
                            (5 * mid + 2 * x + 7 * y) % 256,
                            (23 * mid + x + y) % 256,
                        ],
                        axis=-1,
                    ).astype(np.uint8)
                    rows.append(
                        (mid, "image/png", encode_png(px, filter_seed=mid))
                    )
            yield pd.DataFrame(rows, columns=["media_id", "mime", "content"])

    media = d.mapInPandas(gen, "media_id long, mime string, content binary")
    return extract_decoded_features(media)


MM_DECODE_SQL = """
WITH m AS (SELECT CAST(doc_id AS BIGINT) AS media_id FROM documents),
bmp AS (SELECT media_id, 4 + media_id % 5 AS w, 3 + media_id % 4 AS h
        FROM m WHERE media_id % 6 = 0),
bx AS (SELECT media_id, w, h, unnest(range(0, w)) AS x FROM bmp),
bxy AS (SELECT media_id, w, h, x, unnest(range(0, h)) AS y FROM bx),
bstats AS (
  SELECT media_id, 'image/bmp' AS mime,
    CAST(min(w) AS BIGINT) AS d1, CAST(min(h) AS BIGINT) AS d2,
    avg(CAST((13 * media_id + 2 * x + y) % 256 AS DOUBLE)) AS f1,
    avg(CAST((11 * media_id + x + 2 * y) % 256 AS DOUBLE)) AS f2,
    avg(CAST((7 * media_id + 3 * x + 5 * y) % 256 AS DOUBLE)) AS f3
  FROM bxy GROUP BY media_id
),
png AS (SELECT media_id, 3 + media_id % 6 AS w, 2 + media_id % 5 AS h
        FROM m WHERE media_id % 3 = 2),
px AS (SELECT media_id, w, h, unnest(range(0, w)) AS x FROM png),
pxy AS (SELECT media_id, w, h, x, unnest(range(0, h)) AS y FROM px),
pstats AS (
  SELECT media_id, 'image/png' AS mime,
    CAST(min(w) AS BIGINT) AS d1, CAST(min(h) AS BIGINT) AS d2,
    avg(CAST((17 * media_id + 3 * x + 2 * y) % 256 AS DOUBLE)) AS f1,
    avg(CAST((5 * media_id + 2 * x + 7 * y) % 256 AS DOUBLE)) AS f2,
    avg(CAST((23 * media_id + x + y) % 256 AS DOUBLE)) AS f3
  FROM pxy GROUP BY media_id
),
wav AS (SELECT media_id, 64 + media_id % 64 AS n,
               8000 + (media_id % 4) * 4000 AS rate
        FROM m WHERE media_id % 3 = 1),
wi AS (SELECT media_id, n, rate, unnest(range(0, n)) AS i FROM wav),
wv AS (SELECT media_id, n, rate,
         CAST((31 * media_id + 17 * i) % 65536 - 32768 AS DOUBLE) AS v
       FROM wi),
wstats AS (
  SELECT media_id, 'audio/wav' AS mime,
    CAST(min(n) AS BIGINT) AS d1, CAST(min(rate) AS BIGINT) AS d2,
    sqrt(avg(v * v)) AS f1,
    max(abs(v)) / 32768.0 AS f2,
    avg(v) / 32768.0 AS f3
  FROM wv GROUP BY media_id
),
-- JPEG rows: quality-100 per-8x8-tile-constant gray images decode
-- bit-exactly (see operators/jpeg.py), so pixel means come straight
-- from the generative tile formula regardless of the encode variant
-- (grayscale scan / 4:4:4 / 4:2:0+RST chosen by (media_id//6)%3).
jpg AS (SELECT media_id, 5 + media_id % 13 AS w, 4 + media_id % 11 AS h
        FROM m WHERE media_id % 6 = 3),
jx AS (SELECT media_id, w, h, unnest(range(0, w)) AS x FROM jpg),
jxy AS (SELECT media_id, w, h, x, unnest(range(0, h)) AS y FROM jx),
jstats AS (
  SELECT media_id, 'image/jpeg' AS mime,
    CAST(min(w) AS BIGINT) AS d1, CAST(min(h) AS BIGINT) AS d2,
    avg(CAST((29 * media_id + 13 * (x // 8) + 7 * (y // 8)) % 256 AS DOUBLE)) AS f1,
    avg(CAST((29 * media_id + 13 * (x // 8) + 7 * (y // 8)) % 256 AS DOUBLE)) AS f2,
    avg(CAST((29 * media_id + 13 * (x // 8) + 7 * (y // 8)) % 256 AS DOUBLE)) AS f3
  FROM jxy GROUP BY media_id
)
SELECT * FROM bstats UNION ALL SELECT * FROM pstats
UNION ALL SELECT * FROM wstats UNION ALL SELECT * FROM jstats
"""


_HEXVAL = "(strpos('0123456789abcdef', substr(digest, {i}, 1)) - 1)"

MM_MEDIA_SQL = f"""
WITH m AS (
  SELECT doc_id AS media_id, 'image/fake' AS mime,
    octet_length(encode(text)) AS n_bytes, md5(text) AS digest
  FROM documents
)
SELECT media_id, mime, CAST(n_bytes AS BIGINT) AS n_bytes, digest,
  round(CAST({_HEXVAL.format(i=1)} * 16 + {_HEXVAL.format(i=2)} AS DOUBLE) / 255.0, 4) AS f0
FROM m
"""


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "q_pricing_summary": q_pricing_summary,
    "q_shipping_priority": q_shipping_priority,
    "q_top_orders_per_customer": q_top_orders_per_customer,
    "q_events_hourly": q_events_hourly,
    "q_events_sessions": q_events_sessions,
    "lk_persons_profile": lk_persons_profile,
    "lk_algo1_pairs": lk_algo1_pairs,
    "lk_algo2_pairs": lk_algo2_pairs,
    "lk_blocking_keys": lk_blocking_keys,
    "lk_lev_jw_scores": lk_lev_jw_scores,
    "lk_fuzzy_pairs": lk_fuzzy_pairs,
    "lk_fuzzy_pairs_mid": lk_fuzzy_pairs_mid,
    "lk_fuzzy_birthdate": lk_fuzzy_birthdate,
    "lk_algo7_pairs": lk_algo7_pairs,
    "lk_blocking_quality": lk_blocking_quality,
    "lk_household_pct": lk_household_pct,
    "lk_household_pct_opt6": lk_household_pct_opt6,
    "lk_clusters": lk_clusters,
    "lk_clusters_bigstar": lk_clusters_bigstar,
    "lk_stream_clusters": lk_stream_clusters,
    "dd_exact_groups": dd_exact_groups,
    "dd_minhash_bands": dd_minhash_bands,
    "dd_stream_minhash": dd_stream_minhash,
    "dd_dup_clusters": dd_dup_clusters,
    "dd_pipeline": dd_pipeline,
    "dd_ngram_jaccard": dd_ngram_jaccard,
    "dd_simhash": dd_simhash,
    "dd_recall_eval": dd_recall_eval,
    "dd_embed_neardup": dd_embed_neardup,
    "txt_quality": txt_quality,
    "txt_langid": txt_langid,
    "txt_token_counts": txt_token_counts,
    "dd_line_dedup": dd_line_dedup,
    "txt_filter_pipeline": txt_filter_pipeline,
    "txt_corpus_e2e": txt_corpus_e2e,
    "wp_url_filter": wp_url_filter,
    "txt_pii": txt_pii,
    "sim_cosine_topk": sim_cosine_topk,
    "sim_lsh_topk": sim_lsh_topk,
    "sim_ivf_topk": sim_ivf_topk,
    "mm_media_features": mm_media_features,
    "mm_decode_media": mm_decode_media,
}

ORACLES: dict[str, str] = {
    "q_pricing_summary": Q_PRICING_SQL,
    "mm_media_features": MM_MEDIA_SQL,
    "mm_decode_media": MM_DECODE_SQL,
    "q_shipping_priority": Q_SHIPPING_SQL,
    "q_top_orders_per_customer": Q_TOP_ORDERS_SQL,
    "q_events_hourly": Q_EVENTS_HOURLY_SQL,
    "q_events_sessions": Q_EVENTS_SESSIONS_SQL,
    "lk_persons_profile": PERSONS_A_SQL,
    "lk_algo1_pairs": LK_ALGO1_SQL,
    "lk_algo2_pairs": LK_ALGO2_SQL,
    "lk_blocking_keys": LK_BLOCKING_SQL,
    "lk_blocking_quality": LK_BLOCKING_QUALITY_SQL.format(pa=PERSONS_A_SQL, pb=PERSONS_B_SQL),
    "lk_lev_jw_scores": LK_LEV_JW_SQL,
    "lk_fuzzy_pairs": LK_FUZZY_SQL,
    "lk_fuzzy_pairs_mid": LK_FUZZY_MID_SQL,
    "lk_fuzzy_birthdate": LK_FUZZY_BD_SQL,
    "lk_algo7_pairs": LK_ALGO7_SQL,
    "lk_household_pct": LK_HOUSEHOLD_SQL,
    "lk_household_pct_opt6": LK_HOUSEHOLD6_SQL,
    "lk_clusters": LK_CLUSTERS_SQL,
    "lk_clusters_bigstar": LK_CLUSTERS_SQL,
    "lk_stream_clusters": LK_CLUSTERS_SQL,
    "dd_exact_groups": DD_EXACT_SQL,
    "dd_minhash_bands": DD_MINHASH_SQL,
    "dd_stream_minhash": DD_MINHASH_SQL,
    "dd_dup_clusters": DD_DUP_CLUSTERS_SQL,
    "dd_pipeline": DD_PIPELINE_SQL,
    "dd_ngram_jaccard": DD_NGRAM_SQL,
    "dd_simhash": DD_SIMHASH_SQL,
    "dd_recall_eval": DD_RECALL_SQL,
    "dd_embed_neardup": DD_EMBED_NEARDUP_SQL,
    "txt_quality": TXT_QUALITY_SQL,
    "txt_langid": TXT_LANGID_SQL,
    "txt_token_counts": TXT_TOKENS_SQL,
    "dd_line_dedup": DD_LINE_DEDUP_SQL,
    "txt_filter_pipeline": TXT_FILTER_SQL,
    "txt_corpus_e2e": TXT_CORPUS_SQL,
    "wp_url_filter": WP_URL_FILTER_SQL,
    "txt_pii": TXT_PII_SQL,
    "sim_cosine_topk": SIM_COSINE_SQL,
    "sim_lsh_topk": SIM_LSH_SQL,
    "sim_ivf_topk": SIM_IVF_SQL,
    # The fuzzy-ladder family (lk_fuzzy_pairs*, lk_algo7_pairs,
    # wp_stream_linkage) is hash-checked via the phonetic sidecar maps
    # (ensure_phonetic_sidecar): the codes are the only taken-as-given
    # inputs; cascade/gate/ladder/score arithmetic all replay in DuckDB.
}


# ---------------------------------------------------------------------------
# D. Overlap stats / partition strategies / date ladder (SURVEY §2.6-2.9)
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# E. Web-pages pipeline (BASELINE.json input_hint: pages(url, warc_ts,
# html binary, text, lang) -> extract -> link). The pages table is
# synthesized IDENTICALLY in both dialects from customer/orders, the
# Spark side then runs the REAL extract_entities operator over the
# html/text column, and the oracle states the closed-form expected
# fields — so a hash match proves the extraction round-trip recovers
# the entity block byte-identically per url (md5 over the bytes).
# ---------------------------------------------------------------------------

PAGE_LANGS = ["en", "en", "en", "en", "en", "en", "en", "es", "de", "fr"]


def _ent_expr() -> F.Column:
    """The canonical entity block (same template as fixtures/pages.py),
    from a person row's columns."""
    return F.concat(
        F.lit("NAME: "),
        F.coalesce("first_name", F.lit("")),
        F.lit("|"),
        F.coalesce("middle_name", F.lit("")),
        F.lit("|"),
        F.coalesce("last_name", F.lit("")),
        F.lit("\nBORN: "),
        F.date_format("birthdate", "yyyy-MM-dd"),
        F.lit("\nHH: "),
        F.coalesce("hh_id", F.lit("")),
    )


def _page_body(ent: F.Column) -> F.Column:
    h = (F.col("id") % 97).cast("string")
    return F.concat(
        F.lit("<html><head><title>record "),
        F.col("id").cast("string"),
        F.lit("</title></head><body>\n<p>boilerplate nav and chrome for host"),
        h,
        F.lit('</p>\n<div class="entity">\n'),
        ent,
        F.lit("\n</div>\n<p>footer boilerplate</p>\n</body></html>"),
    )


def _persons_to_pages(p: DataFrame, tag: str) -> DataFrame:
    """(url, warc_ts, html, text, lang) from a person table — the same
    template as fixtures/pages.py, expressed in JVM functions."""
    h = (F.col("id") % 97).cast("string")
    body = _page_body(_ent_expr())
    return p.select(
        F.concat(
            F.lit("https://host"), h, F.lit(".example/"), F.lit(tag), F.lit("/p"),
            F.col("id").cast("string"),
        ).alias("url"),
        F.timestamp_seconds(F.lit(1704067200) + F.col("id") * 7).alias("warc_ts"),
        F.encode(body, "UTF-8").alias("html"),
        body.alias("text"),
        _pool_at(PAGE_LANGS, (F.col("id") % 10).cast("int")).alias("lang"),
    )


def wp_extract_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pages -> extract_entities; entity_sha pins the per-url
    byte-identical extracted text invariant (north rule)."""
    from .operators.extract import extract_entities

    pages = _persons_to_pages(persons_a(spark, sf_dir), "a")
    out = extract_entities(pages)
    return out.select(
        "url",
        "lang",
        "entity_text",
        F.md5(F.encode("entity_text", "UTF-8")).alias("entity_sha"),
        "id",
        "first_name",
        "middle_name",
        "last_name",
        "birthdate",
        "hh_id",
    )


_ENT_SQL = (
    "'NAME: ' || coalesce(first_name, '') || '|' || coalesce(middle_name, '') "
    "|| '|' || coalesce(last_name, '') || chr(10) || 'BORN: ' "
    "|| strftime(birthdate, '%Y-%m-%d') || chr(10) || 'HH: ' || coalesce(hh_id, '')"
)

WP_EXTRACT_SQL = f"""
WITH pa AS ({PERSONS_A_SQL})
SELECT
  'https://host' || CAST(id % 97 AS VARCHAR) || '.example/a/p' || CAST(id AS VARCHAR) AS url,
  ({_sql_list(PAGE_LANGS)})[CAST(id % 10 AS INT) + 1] AS lang,
  {_ENT_SQL} AS entity_text,
  md5({_ENT_SQL}) AS entity_sha,
  id, first_name, middle_name, last_name, birthdate, hh_id
FROM pa
"""


def wp_linkage_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full web pipeline: synthesize pages on BOTH sides -> extract ->
    prepare -> Algo-1 join. Must produce the exact pair set the direct
    person-table path produces (oracle = LK_ALGO1_SQL)."""
    from .operators.extract import extract_entities

    ea = extract_entities(
        _persons_to_pages(persons_a(spark, sf_dir), "a")
    ).withColumnRenamed("url", "uuid")
    eb = extract_entities(
        _persons_to_pages(persons_b(spark, sf_dir), "b")
    ).withColumnRenamed("url", "uuid")
    return match_algo1(prepare_persons(ea), prepare_persons(eb)).select(
        "id_1", "id_2"
    )


def wp_stream_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental streaming linkage: side-A pages drained as a file
    stream in micro-batches, fuzzy-matched per batch against the pinned
    side-B corpus (streaming/linkage.py). Must equal the one-shot batch
    fuzzy pipeline pair-for-pair — the cascade is probe-row-local and
    hot-block hotness is judged on the pinned build side, so splitting
    the probe side into micro-batches is exact — which means the batch
    ladder oracle (LK_FUZZY_SQL) applies to the streaming output too,
    the same way dd_stream_minhash carries the batch MinHash oracle."""
    from .streaming.linkage import incremental_linkage

    ensure_phonetic_sidecar(spark, sf_dir)

    with _stream_workdir("wp_stream_") as work:
        src, out, ck = f"{work}/src", f"{work}/out", f"{work}/ck"
        pages = _persons_to_pages(persons_a(spark, sf_dir), "a")
        # Two files -> at least two micro-batches, maxFilesPerTrigger=1.
        pages.repartition(2).write.parquet(src)
        ref = prepare_persons(persons_b(spark, sf_dir), include_middle=False)
        q = incremental_linkage(
            spark.readStream.schema(pages.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src),
            ref,
            out,
            ck,
        )
        q.awaitTermination()
        # localCheckpoint: materialize before the work dir is removed
        return (
            spark.read.parquet(out)
            .select(
                "id_1", "id_2", F.round("score", 4).alias("score"), "match_case"
            )
            .localCheckpoint(eager=True)
        )


def wp_url_canon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + canonical-URL dedup (operators/web.py):
    messy crawl URLs — case-varied schemes/hosts, www prefixes, default
    and non-default ports, trailing slashes, utm_* tracking params,
    fragments, percent-encoded unreserved chars, lowercase reserved
    hex, click-tracker params, exact-duplicate params — are synthesized
    deterministically per person id, folded by the pure-JVM
    canonical_url expression, and grouped. The oracle replays the same
    canonicalization pipeline in DuckDB SQL, so every rule (port logic,
    pct normalization, tracker filter, dup collapse, sort, slash trim)
    hash-checks."""
    from .operators.web import url_dedup_groups

    return url_dedup_groups(_messy_urls(spark, sf_dir))


def _messy_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared messy-crawl-URL fixture (one url per person id, with
    deterministic case/port/tracker/percent-encoding variations);
    consumed by wp_url_canon and wp_domain_stats, mirrored in SQL by
    _DDB_RAW_URLS."""
    p = persons_a(spark, sf_dir).select("id")
    g = F.col("id") % 300
    url = F.concat(
        F.when(F.col("id") % 2 == 0, F.lit("HTTP://")).otherwise(F.lit("http://")),
        # userinfo must be stripped before host parsing
        F.when(F.col("id") % 12 == 5, F.lit("u:p@")).otherwise(F.lit("")),
        F.when(F.col("id") % 3 == 0, F.lit("WWW.")).otherwise(F.lit("")),
        F.lit("Site"), (g % 97).cast("string"), F.lit(".Example"),
        F.when(F.col("id") % 7 == 0, F.lit(":8080"))
        .when(F.col("id") % 3 == 1, F.lit(":80"))
        .otherwise(F.lit("")),
        # %41 decodes to 'A' -> merges with the plain-path variants
        F.when(F.col("id") % 6 == 0, F.lit("/%41/p")).otherwise(F.lit("/A/p")),
        g.cast("string"),
        F.when(F.col("id") % 4 == 0, F.lit("/")).otherwise(F.lit("")),
        F.lit("?utm_source=u"), (F.col("id") % 9).cast("string"),
        F.lit("&b="), (g % 5).cast("string"), F.lit("&a=1"),
        # exact duplicate collapses to one
        F.when(F.col("id") % 8 == 0, F.lit("&a=1")).otherwise(F.lit("")),
        # click trackers dropped
        F.when(
            F.col("id") % 2 == 1,
            F.concat(F.lit("&fbclid=click"), (F.col("id") % 11).cast("string")),
        ).otherwise(F.lit("")),
        # 'ref' is NOT a tracker (functional param) — these variants
        # must keep it and split from the ref-less group.
        F.when(F.col("id") % 10 == 7, F.lit("&ref=nl")).otherwise(F.lit("")),
        # lowercase reserved hex normalizes to the %3F spelling
        F.when(F.col("id") % 5 == 2, F.lit("&c=%3f")).otherwise(F.lit("&c=%3F")),
        F.when(F.col("id") % 5 == 0, F.lit("#sec")).otherwise(F.lit("")),
    )
    # The exchange is a projection-collapse barrier, not a tuning knob:
    # without it Catalyst substitutes this url-construction expression
    # into EVERY column reference inside canonical_url (~15 of them),
    # re-evaluating the concat-of-whens 15x per row — measured 2.5-4x
    # on the canonicalization bench rows. Production inputs read `url`
    # from storage and never hit this; it is an artifact of
    # synthesizing the fixture from expressions.
    return p.select(url.alias("url")).repartition(
        spark.sparkContext.defaultParallelism
    )


# One matched %XX token -> normalized form (unreserved decodes,
# everything else uppercases); `e` is the lambda variable below.
_DDB_PCT_CODE = "try_cast('0x' || substr(e, 2, 2) AS INT)"
_DDB_PCT_CASE = f"""CASE
      WHEN {_DDB_PCT_CODE} BETWEEN 65 AND 90 OR {_DDB_PCT_CODE} BETWEEN 97 AND 122
        OR {_DDB_PCT_CODE} BETWEEN 48 AND 57 OR {_DDB_PCT_CODE} IN (45, 46, 95, 126)
      THEN chr({_DDB_PCT_CODE}) ELSE upper(e) END"""

# (?s) mirrors web.TRACKER_PARAM_RE's newline-smuggling hardening
# (DuckDB RE2 accepts the same inline flag).
_DDB_TRACKER_RE = (
    "(?s)^(utm_[^=]*|fbclid|gclid|gclsrc|mc_cid|mc_eid|igshid|msclkid)(=.*)?$"
)

# The messy-URL fixture in SQL — the DuckDB twin of harness._messy_urls;
# shared by WP_URL_CANON_SQL and WP_DOMAIN_STATS_SQL.
_DDB_RAW_URLS = """
  SELECT
    (CASE WHEN id % 2 = 0 THEN 'HTTP://' ELSE 'http://' END)
    || (CASE WHEN id % 12 = 5 THEN 'u:p@' ELSE '' END)
    || (CASE WHEN id % 3 = 0 THEN 'WWW.' ELSE '' END)
    || 'Site' || CAST((id % 300) % 97 AS VARCHAR) || '.Example'
    || (CASE WHEN id % 7 = 0 THEN ':8080'
             WHEN id % 3 = 1 THEN ':80' ELSE '' END)
    || (CASE WHEN id % 6 = 0 THEN '/%41/p' ELSE '/A/p' END)
    || CAST(id % 300 AS VARCHAR)
    || (CASE WHEN id % 4 = 0 THEN '/' ELSE '' END)
    || '?utm_source=u' || CAST(id % 9 AS VARCHAR)
    || '&b=' || CAST((id % 300) % 5 AS VARCHAR) || '&a=1'
    || (CASE WHEN id % 8 = 0 THEN '&a=1' ELSE '' END)
    || (CASE WHEN id % 2 = 1 THEN '&fbclid=click' || CAST(id % 11 AS VARCHAR) ELSE '' END)
    || (CASE WHEN id % 10 = 7 THEN '&ref=nl' ELSE '' END)
    || (CASE WHEN id % 5 = 2 THEN '&c=%3f' ELSE '&c=%3F' END)
    || (CASE WHEN id % 5 = 0 THEN '#sec' ELSE '' END) AS url
  FROM pa
"""

WP_URL_CANON_SQL = f"""
WITH pa AS ({PERSONS_A_SQL}),
raw AS (
  {_DDB_RAW_URLS}
),
c1 AS (
  SELECT url,
    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS s,
    regexp_replace(regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.-]*://', ''),
                   '(?s)#.*$', '') AS rest
  FROM raw
),
c2 AS (
  SELECT url, s, rest,
    regexp_replace(lower(regexp_extract(rest, '^([^/?]+)', 1)),
                   '^[^@]*@', '') AS hostport
  FROM c1
),
c3 AS (
  SELECT url, s, rest,
    regexp_replace(regexp_replace(hostport, ':[0-9]+$', ''), '^www\\.', '') AS h,
    regexp_extract(hostport, ':([0-9]+)$', 1) AS port
  FROM c2
),
c4 AS (
  SELECT url, s, h,
    CASE WHEN port <> '' AND NOT ((s = 'http' AND port = '80')
                               OR (s = 'https' AND port = '443'))
         THEN ':' || port ELSE '' END AS pp,
    regexp_extract(rest, '^[^/?]+([^?]*)', 1) AS raw_path,
    regexp_extract(rest, '\\?((?s:.*))$', 1) AS q
  FROM c3
),
c4b AS (
  SELECT url, s, h, pp,
    string_split_regex(raw_path, '%[0-9A-Fa-f]{{2}}') AS pparts,
    list_transform(regexp_extract_all(raw_path, '(%[0-9A-Fa-f]{{2}})', 1),
                   e -> {_DDB_PCT_CASE}) AS pdec,
    string_split_regex(q, '%[0-9A-Fa-f]{{2}}') AS qparts,
    list_transform(regexp_extract_all(q, '(%[0-9A-Fa-f]{{2}})', 1),
                   e -> {_DDB_PCT_CASE}) AS qdec
  FROM c4
),
c4c AS (
  SELECT url, s, h, pp,
    array_to_string(list_transform(range(1, len(pparts) + 1),
      i -> pparts[i] || coalesce(pdec[i], '')), '') AS raw_path,
    array_to_string(list_transform(range(1, len(qparts) + 1),
      i -> qparts[i] || coalesce(qdec[i], '')), '') AS q
  FROM c4b
),
c5 AS (
  SELECT url, s, h, pp,
    CASE WHEN regexp_replace(raw_path, '/+$', '') = '' THEN '/'
         ELSE regexp_replace(raw_path, '/+$', '') END AS pth,
    array_to_string(list_sort(list_distinct(list_filter(string_split(q, '&'),
        p -> p <> '' AND NOT regexp_matches(p, '{_DDB_TRACKER_RE}')))), '&') AS qs
  FROM c4c
),
canon AS (
  SELECT url AS raw_url,
    s || '://' || h || pp || pth
      || (CASE WHEN qs <> '' THEN '?' || qs ELSE '' END) AS canonical
  FROM c5
)
SELECT canonical, CAST(count(*) AS BIGINT) AS n_urls, min(raw_url) AS keep_url
FROM canon GROUP BY canonical HAVING count(*) >= 2
"""


WP_DOMAIN_STATS_SQL = f"""
WITH RECURSIVE pa AS ({PERSONS_A_SQL}),
raw AS (
{_DDB_RAW_URLS}
),
h AS (
  SELECT url,
    regexp_replace(regexp_replace(regexp_replace(
      lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)),
      '^[^@]*@', ''), ':[0-9]+$', ''),
      '^www\\.', '') AS host
  FROM raw
)
SELECT host,
  CAST(count(*) AS BIGINT) AS n_fetches,
  CAST(count(DISTINCT url) AS BIGINT) AS n_urls
FROM h WHERE host <> ''
GROUP BY host
"""


# --- generic HTML -> text extraction (operators/web.py::html_to_text) -----
#
# The adversarial page is synthesized from ONE shared piece-spec, so the
# Spark input and the DuckDB input cannot drift; the oracle then replays
# the documented 5-rule extraction contract (script/style, comments,
# tags, single-pass entity decode incl. decimal/hex BMP code points,
# whitespace fold) expression-for-expression. A hash match therefore
# certifies every rule, including the preserved-verbatim cases (unknown
# names, astral, surrogates) and the quoted-'>' tag trade-off.

_ADV_ENT_POOL = [
    "&amp;", "&lt;", "&gt;", "&quot;", "&apos;", "&nbsp;", "&hellip;",
    "&rsquo;", "&bogus;", "&copy;",
]

# literal str | ("id",) | ("mod", m) | ("modplus", base, m) | ("entpool",)
_ADV_PAGE_SPEC: list = [
    "<!DOCTYPE html><html><head><title>Doc ", ("id",),
    '</title><script type="text/javascript">if(a<', ("mod", 5),
    '){track("&amp;")}</script><style media="all">p { color: #',
    ("mod", 9), "00; }</style></head><body>\n<!-- nav > chrome ",
    ("mod", 7), ' --><p class="x">Entity ', ("entpool",),
    " and letter &#", ("modplus", 65, 26),
    "; plus caf&#233; and hex&#x2019;s</p>\n"
    "<p>astral &#1114112; surrogate &#55296; stay</p>"
    '<a title="x>y">link ', ("id",),
    "</a>\t<p>tail&nbsp;text</p></body></html>",
]


def _adv_page_spark(k: F.Column) -> F.Column:
    pieces = []
    for p in _ADV_PAGE_SPEC:
        if isinstance(p, str):
            pieces.append(F.lit(p))
        elif p[0] == "id":
            pieces.append(k.cast("string"))
        elif p[0] == "mod":
            pieces.append((k % p[1]).cast("string"))
        elif p[0] == "modplus":
            pieces.append((F.lit(p[1]) + k % p[2]).cast("string"))
        else:
            pieces.append(_pool_at(_ADV_ENT_POOL, (k % len(_ADV_ENT_POOL)).cast("int")))
    return F.concat(*pieces)


def _adv_page_sql() -> str:
    pieces = []
    for p in _ADV_PAGE_SPEC:
        if isinstance(p, str):
            pieces.append("'" + p.replace("'", "''").replace("\n", "' || chr(10) || '").replace("\t", "' || chr(9) || '") + "'")
        elif p[0] == "id":
            pieces.append("CAST(id AS VARCHAR)")
        elif p[0] == "mod":
            pieces.append(f"CAST(id % {p[1]} AS VARCHAR)")
        elif p[0] == "modplus":
            pieces.append(f"CAST({p[1]} + id % {p[2]} AS VARCHAR)")
        else:
            pieces.append(
                f"({_sql_list(_ADV_ENT_POOL)})[CAST(id % {len(_ADV_ENT_POOL)} AS INT) + 1]"
            )
    return " || ".join(pieces)


def wp_text_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generic crawl-text extraction over adversarial HTML: per-id pages
    carrying scripts-with-'<', styles, '>'-bearing comments, doctype,
    attribute-quoted '>', rotating named entities (incl. an unknown
    one), decimal/hex/astral/surrogate numerics, nbsp and mixed
    whitespace — through html_to_text (operators/web.py)."""
    from .operators.web import html_to_text

    p = persons_a(spark, sf_dir).select("id")
    pages = p.select("id", _adv_page_spark(F.col("id")).alias("html"))
    return pages.select("id", html_to_text(F.col("html")).alias("text"))


# DuckDB replay of html_to_text. `e` below is one matched entity token.
_DDB_CP = (
    "coalesce(try_cast(regexp_extract(e, '^&#([0-9]+);$', 1) AS INT), "
    "try_cast('0x' || regexp_extract(e, '^&#[xX]([0-9A-Fa-f]+);$', 1) AS INT))"
)


def _ddb_entity_case() -> str:
    from .operators.web import NAMED_ENTITIES

    named = " ".join(
        f"WHEN e = '&{n};' THEN '{v.replace(chr(39), chr(39) * 2)}'"
        for n, v in NAMED_ENTITIES.items()
    )
    return f"""CASE
      WHEN {_DDB_CP} IS NOT NULL THEN
        CASE WHEN {_DDB_CP} BETWEEN 1 AND 65535
              AND NOT ({_DDB_CP} BETWEEN 55296 AND 57343)
             THEN chr({_DDB_CP}) ELSE e END
      {named}
      ELSE e END"""


_ENT_TOKEN_SQL = "&[A-Za-z][A-Za-z0-9]*;|&#[0-9]{1,7};|&#[xX][0-9A-Fa-f]{1,6};"

WP_TEXT_EXTRACT_SQL = f"""
WITH pa AS ({PERSONS_A_SQL}),
raw AS (SELECT id, {_adv_page_sql()} AS html FROM pa),
s1 AS (SELECT id, regexp_replace(html,
         '(?is)<script\\b[^>]*>.*?</script\\s*>', ' ', 'g') AS t FROM raw),
s2 AS (SELECT id, regexp_replace(t,
         '(?is)<style\\b[^>]*>.*?</style\\s*>', ' ', 'g') AS t FROM s1),
s3 AS (SELECT id, regexp_replace(t, '(?s)<!--.*?-->', ' ', 'g') AS t FROM s2),
s4 AS (SELECT id, regexp_replace(t, '(?is)</?[a-z!][^>]*>', ' ', 'g') AS t FROM s3),
ent AS (
  SELECT id,
    string_split_regex(t, '{_ENT_TOKEN_SQL}') AS parts,
    list_transform(
      regexp_extract_all(t, '({_ENT_TOKEN_SQL})', 1),
      e -> {_ddb_entity_case()}
    ) AS dec
  FROM s4
),
joined AS (
  SELECT id,
    array_to_string(
      list_transform(range(1, len(parts) + 1),
                     i -> parts[i] || coalesce(dec[i], '')),
      '') AS t
  FROM ent
)
SELECT id,
  trim(regexp_replace(t, '[ \\t\\n\\r\\f\\x{{0B}}\\x{{00A0}}]+', ' ', 'g')) AS text
FROM joined
"""


# --- full crawl-composition query (the north-star demo) -------------------
#
# url_dedup_groups -> extract_entities -> dedup_pipeline (on extracted
# content; see the template-domination note in wp_crawl_e2e) ->
# match_algo1 -> cluster_pairs, staged over a synthetic crawl with
# URL-level refetches (case noise, www, :80, trailing slash, fragment,
# tracker params), byte-identical mirror hosts (exact-dup tier) and
# archive near-copies (LSH+Jaccard tier). The oracle assembles the
# proven per-stage oracles: closed-form canonical/survivor facts (the
# synthesis is deterministic, so a hash match proves canonical_url and
# the latest-crawl struct-max produce exactly the expected values),
# _dedup_tiers_sql over the closed-form page text, the algo1 equi-join,
# and the recursive-reach clustering with the cluster_pairs 2n/2n+1 node
# encoding. Output: one row per crawl doc with every stage's verdict.

_CRAWL_T0 = 1704067200  # 2024-01-01T00:00:00Z, the synthetic crawl epoch


def _crawl_fetches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(url, warc_ts, html): per person, doc variants v0 (always),
    v1 mirror host iff id%7==0 (byte-identical html), v2 archive copy
    iff id%11==0 (extra NOTE line in the entity div); per doc, fetch
    f0 (case noise + utm), f1 iff id%3==0 (www + :80 + trailing slash +
    fragment, newer), f2 iff id%4==0 (click trackers, newest)."""
    p = persons_a(spark, sf_dir)
    pid = F.col("id")
    docs = p.withColumn(
        "v",
        F.explode(
            F.filter(
                F.array(F.lit(0), F.lit(1), F.lit(2)),
                lambda v: (v == 0)
                | ((v == 1) & (pid % 7 == 0))
                | ((v == 2) & (pid % 11 == 0)),
            )
        ),
    )
    # BIO carries the person id, so every person's content is unique
    # even under name-pool collisions (no accidental cross-person
    # near-dups), and no constant template run reaches 13 chars — the
    # property that keeps the 13-gram universe content-specific. (The
    # normalized glue " hh: bio: p" is 11 chars; a longer constant run
    # would put template-only grams in EVERY doc — measured 157 s with
    # an 18-char run under the former exploded gram-join verify.)
    bio = F.concat(
        F.lit("\nBIO: p"), pid.cast("string"),
        F.lit(" city c"), (pid % 50).cast("string"),
        F.lit(" job j"), (pid % 12).cast("string"),
    )
    ent = F.when(
        F.col("v") == 2, F.concat(_ent_expr(), bio, F.lit("\n(archive)"))
    ).otherwise(F.concat(_ent_expr(), bio))
    docs = docs.select(
        "id", "v", F.encode(_page_body(ent), "UTF-8").alias("html")
    )
    fx = docs.withColumn(
        "f",
        F.explode(
            F.filter(
                F.array(F.lit(0), F.lit(1), F.lit(2)),
                lambda f: (f == 0)
                | ((f == 1) & (pid % 3 == 0))
                | ((f == 2) & (pid % 4 == 0)),
            )
        ),
    )
    host = F.concat(F.lit("host"), (pid % 97).cast("string"), F.lit(".example"))
    host_cased = F.concat(F.lit("Host"), (pid % 97).cast("string"), F.lit(".Example"))
    path = F.concat(
        F.lit("/d"), F.col("v").cast("string"), F.lit("/p"), pid.cast("string")
    )
    url = (
        F.when(
            F.col("f") == 0,
            F.concat(
                F.when(pid % 2 == 0, F.lit("Http://")).otherwise(F.lit("http://")),
                F.when(pid % 2 == 0, host_cased).otherwise(host),
                path,
                F.lit("?utm_source=crawler"),
            ),
        )
        .when(
            F.col("f") == 1,
            F.concat(F.lit("HTTP://www."), host, F.lit(":80"), path, F.lit("/#frag")),
        )
        .otherwise(
            F.concat(
                F.lit("http://"), host, path,
                F.lit("?fbclid=x"), (pid % 7).cast("string"),
                F.lit("&utm_medium=m"),
            )
        )
    )
    ts = F.timestamp_seconds(F.lit(_CRAWL_T0) + pid * 3 + F.col("f"))
    return fx.select(url.alias("url"), ts.alias("warc_ts"), "html")


_CRAWL_DOC_RE = "/d([0-9])/p([0-9]+)$"


def _crawl_doc_id(url_col: F.Column) -> F.Column:
    return (
        F.regexp_extract(url_col, _CRAWL_DOC_RE, 2).cast("long") * 4
        + F.regexp_extract(url_col, _CRAWL_DOC_RE, 1).cast("long")
    )


def wp_crawl_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per crawl doc: URL-canon group facts (canonical string,
    refetch count, surviving crawl timestamp), dedup disposition
    (kept / exact_dup / near_dup + canonical doc), and for kept docs
    the algo1 match count against persons_b plus the connected-
    component cluster label. Every stage is the production operator;
    nothing is collected to the driver between stages (the three
    shared stage boundaries are localCheckpoint-materialized, see
    below — the run_linkage staging discipline, not driver round
    trips).

    100 TB posture: URL dedup is one shuffle on the canonical key with
    a struct-max survivor (map-side combine); the survivor-content
    resolve is an equi-join on the kept raw URL; the dedup tiers are
    the audited dedup_pipeline plan (never all-pairs); linkage is the
    blocked equi-join; clustering is O(diameter) label propagation.
    The stage boundaries every downstream consumer shares (deduped
    page set, extracted entities, dedup disposition, match pairs) are
    localCheckpoint-materialized — run_linkage's stage discipline:
    each is consumed 2-4× (the cluster loop re-evaluates its edge
    lineage per round), and unpinned the whole upstream re-ran per
    consumer. Lineage truncation also means an executor loss fails
    loudly instead of silently recomputing; blocks are GC-reclaimed
    with the DataFrames (no CacheManager entry leaks)."""
    from .operators.clustering import cluster_pairs
    from .operators.dedup import dedup_pipeline
    from .operators.extract import extract_entities
    from .operators import web as web_mod
    from .operators.web import url_dedup_groups

    fetches = _crawl_fetches(spark, sf_dir)
    groups = url_dedup_groups(fetches, ts_col="warc_ts", min_group=1)
    pages = groups.join(
        fetches.select(
            F.col("url").alias("keep_url"), "warc_ts", "html"
        ),
        "keep_url",
    ).select(
        _crawl_doc_id(F.col("canonical")).alias("doc_id"),
        "canonical",
        "n_urls",
        F.unix_timestamp("warc_ts").alias("kept_ts"),
        # Lenient decode: one malformed byte sequence must not fail
        # the crawl (operators/web.py::utf8_text; strict decode
        # raises MALFORMED_CHARACTER_CODING under Spark 4 ANSI).
        web_mod.utf8_text(F.col("html")).alias("page_html"),
    ).repartition(
        # AQE coalesces this small-by-bytes shuffle to ~1 partition and
        # localCheckpoint PINS that layout — then every downstream
        # compute-heavy stage (MinHash band keys, verify gram arrays,
        # extraction regexps) runs single-task no matter how many
        # cores exist (measured: 4->16 cores gave only 1.3x). Rows
        # here are narrow but row-COSTLY; pin the fan-out explicitly.
        # Lazy checkpoint (r06): the explicit repartition(N) exchange is
        # not AQE-coalescible, so the pinned layout is identical whether
        # the checkpoint materializes in its own job or inside the first
        # consumer's job — and fusing it into the dedup tier's edge job
        # removes one serial stage boundary from the pipeline's critical
        # path (guide §2.6: actions are only sequential because the
        # driver calls them sequentially).
        spark.sparkContext.defaultParallelism
    ).localCheckpoint(eager=False)

    # Extract BEFORE the near-dup tiers: page-level shingling is
    # template-dominated on real crawls (every doc shares the site
    # chrome, so nearly every MinHash lands on a boilerplate shingle —
    # measured here: ~90% of ALL pairs collided in some band and the
    # candidate join went quadratic, 150 s at sf0.1). Deduping the
    # extracted entity content is the standard crawl architecture
    # (boilerplate-removal -> shingle); html_to_text's generic
    # boilerplate strip is oracle-verified separately (wp_text_extract).
    # Both LSH shingles AND the verify grams use k=13 — long enough
    # that every gram spans person-specific content (no 13-char
    # constant template run exists in the entity), which (a) keeps
    # signatures content-specific and (b) bounds the verify gram
    # join's fan-out by content-collision frequency, so the
    # doc-frequency cut is not needed (max_doc_freq=None) and the
    # Jaccard values are scale-independent. threshold 0.8: an archive
    # re-post (content + a short suffix, J = |A|/|B| by the prefix
    # property) scores ~0.85-0.9; the worst same-name-pool collision
    # (names from a finite pool, content differing in id/date digits)
    # scores ~0.4.
    ents = extract_entities(
        pages.select(
            F.col("canonical").alias("url"),
            F.col("kept_ts").alias("warc_ts"),
            F.lit("en").alias("lang"),
            F.col("page_html").alias("text"),
        )
    ).select(
        _crawl_doc_id(F.col("url")).alias("id"),
        F.col("url").alias("uuid"),
        "entity_text",
        "first_name", "middle_name", "last_name", "birthdate", "hh_id",
    ).localCheckpoint(eager=False)

    # The dedup tier's pins are dead once the lazy disp checkpoint has
    # materialized, which the eager pairs checkpoint below does (via
    # the kept_ids semi join) — so one scope spans both.
    with cache_scope():
        disp = dedup_pipeline(
            ents.select(
                F.col("id").alias("doc_id"), F.col("entity_text").alias("text")
            ),
            shingle_k=13,
            verify_k=13,
            verify_threshold=0.8,
            max_doc_freq=None,
            minhash_hash_fn="md5",
        ).localCheckpoint(eager=False)

        kept_ids = disp.filter(F.col("status") == "kept").select(
            F.col("doc_id").alias("id")
        )
        la = prepare_persons(
            ents.drop("entity_text").join(kept_ids, "id", "leftsemi")
        )
        lb = prepare_persons(persons_b(spark, sf_dir))
        pairs = (
            match_algo1(la, lb)
            .select("id_1", "id_2", "confidence")
            # same AQE-coalesce + checkpoint-pin hazard: the clustering
            # loop's per-round work inherits this layout. This
            # checkpoint stays EAGER: its job is also what materializes
            # the lazy disp checkpoint above.
            .repartition(spark.sparkContext.defaultParallelism)
            .localCheckpoint()
        )

    counts = pairs.groupBy(F.col("id_1").alias("doc_id")).agg(
        F.count("*").alias("n_pair")
    )
    clus = (
        cluster_pairs(pairs, threshold=0.95)
        .filter(F.col("side") == "a")
        .select(F.col("id").alias("doc_id"), "cluster_id")
    )
    return (
        pages.select("doc_id", "canonical", "n_urls", "kept_ts")
        .join(disp, "doc_id")
        .join(counts, "doc_id", "left")
        .join(clus, "doc_id", "left")
        .select(
            "doc_id",
            "canonical",
            "n_urls",
            "kept_ts",
            "status",
            "canonical_id",
            F.when(
                F.col("status") == "kept", F.coalesce("n_pair", F.lit(0))
            ).cast("long").alias("n_matches"),
            "cluster_id",
        )
    )


WP_CRAWL_SQL = f"""
WITH RECURSIVE pa AS ({PERSONS_A_SQL}), pb AS ({PERSONS_B_SQL}),
docs AS (
  SELECT id * 4 AS doc_id, id, 0 AS v FROM pa
  UNION ALL SELECT id * 4 + 1, id, 1 FROM pa WHERE id % 7 = 0
  UNION ALL SELECT id * 4 + 2, id, 2 FROM pa WHERE id % 11 = 0
),
meta AS (
  SELECT doc_id, id, v,
    'http://host' || CAST(id % 97 AS VARCHAR) || '.example/d'
      || CAST(v AS VARCHAR) || '/p' || CAST(id AS VARCHAR) AS canonical,
    1 + CASE WHEN id % 3 = 0 THEN 1 ELSE 0 END
      + CASE WHEN id % 4 = 0 THEN 1 ELSE 0 END AS n_urls,
    {_CRAWL_T0} + id * 3
      + CASE WHEN id % 4 = 0 THEN 2 WHEN id % 3 = 0 THEN 1 ELSE 0 END AS kept_ts
  FROM docs
),
corpus AS MATERIALIZED (
  SELECT d.doc_id,
    'name: ' || lower(coalesce(p.first_name, ''))
    || '|' || lower(coalesce(p.middle_name, ''))
    || '|' || lower(coalesce(p.last_name, ''))
    || ' born: ' || strftime(p.birthdate, '%Y-%m-%d')
    || ' hh: bio: p' || CAST(p.id AS VARCHAR)
    || ' city c' || CAST(p.id % 50 AS VARCHAR)
    || ' job j' || CAST(p.id % 12 AS VARCHAR)
    || CASE WHEN d.v = 2 THEN ' (archive)' ELSE '' END AS t
  FROM docs d JOIN pa p USING (id)
),
{_dedup_tiers_sql('corpus', shingle_k=13, verify_k=13, verify_threshold=0.8, max_doc_freq=None)},
-- MATERIALIZED: disp/pairs are each consumed by several downstream
-- CTEs; inlined, DuckDB re-expands the whole recursive tier chain per
-- reference and the parquet reader fan-out exhausts the fd limit.
disp AS MATERIALIZED (
{_DEDUP_DISPOSITION_SQL}
),
pairs AS MATERIALIZED (
  SELECT d.doc_id AS id_1, b.id AS id_2
  FROM disp k
  JOIN docs d ON d.doc_id = k.doc_id
  JOIN pa a ON a.id = d.id
  JOIN pb b ON lower(a.first_name) = lower(b.first_name)
           AND lower(a.last_name) = lower(b.last_name)
           AND a.birthdate = b.birthdate
  WHERE k.status = 'kept'
),
ledges AS (
  SELECT id_1 * 2 AS src, id_2 * 2 + 1 AS dst FROM pairs
  UNION
  SELECT id_2 * 2 + 1 AS src, id_1 * 2 AS dst FROM pairs
),
lreach(node, lbl) AS (
  SELECT DISTINCT src, src FROM ledges
  UNION
  SELECT e.dst, r.lbl FROM lreach r JOIN ledges e ON e.src = r.node
),
lcomp AS (SELECT node, min(lbl) AS cluster_id FROM lreach GROUP BY node),
counts AS (SELECT id_1 AS doc_id, count(*) AS n FROM pairs GROUP BY id_1)
SELECT CAST(m.doc_id AS BIGINT) AS doc_id, m.canonical,
  CAST(m.n_urls AS BIGINT) AS n_urls, CAST(m.kept_ts AS BIGINT) AS kept_ts,
  p.status, CAST(p.canonical_id AS BIGINT) AS canonical_id,
  CAST(CASE WHEN p.status = 'kept' THEN coalesce(c.n, 0) END AS BIGINT) AS n_matches,
  CAST(l.cluster_id AS BIGINT) AS cluster_id
FROM meta m
JOIN disp p ON p.doc_id = m.doc_id
LEFT JOIN counts c ON c.doc_id = m.doc_id
LEFT JOIN lcomp l ON l.node = m.doc_id * 2
"""


def lk_run_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consolidated run-diagnostics query — one (metric, value) table
    unioning four operator families so each keeps a per-round oracle
    row inside the driver's query budget:

    * run-level KPIs over algo1 pairs (csv_export.rs:155-227;
      sources/export.py run_summary — distributed stack-melt, no
      collect);
    * A1 vs A2 pair-set overlap (main.rs:599-605;
      sources/export.py algo_overlap_stats — one lazy full-outer
      flags plan) as overlap_{both,only_first,only_second};
    * shard-size histograms for BOTH partition strategies
      (partition.rs:18-65; operators/partition_strategies.py) as
      part_last_initial_K / part_birthyear5_YYYY_YYYY rows — the
      skew-visibility companion to lk_blocking_keys;
    * the Algo-7 birthdate ladder (mod.rs:1118-1136;
      functions/dates.py) as a value histogram bdsim_{100,90,...,0}
      over consecutive-id pairs, pinning every ladder rung.
    """
    from .functions.dates import birthdate_similarity_pct
    from .operators.partition_strategies import birthyear5_key, last_initial_key
    from .sources.export import algo_overlap_stats, run_summary

    pa_raw = persons_a(spark, sf_dir)
    pb_raw = persons_b(spark, sf_dir)
    pa = prepare_persons(pa_raw)
    pb = prepare_persons(pb_raw)
    a1 = match_algo1(pa, pb)
    a2 = match_algo2(pa, pb)

    kpi = run_summary(pa_raw, pb_raw, a1, threshold=0.95)
    overlap = algo_overlap_stats(a1, a2).select(
        F.concat(F.lit("overlap_"), F.col("bucket")).alias("metric"),
        F.col("n_pairs").cast("double").alias("value"),
    )
    li = (
        pa.groupBy(last_initial_key(F.col("norm_last")).alias("k"))
        .agg(F.count("*").alias("n"))
        .select(
            F.concat(F.lit("part_last_initial_"), F.col("k")).alias("metric"),
            F.col("n").cast("double").alias("value"),
        )
    )
    by = (
        pa.groupBy(birthyear5_key(F.col("birthdate")).alias("k"))
        .agg(F.count("*").alias("n"))
        .select(
            F.concat(F.lit("part_birthyear5_"), F.col("k")).alias("metric"),
            F.col("n").cast("double").alias("value"),
        )
    )
    base = pa_raw.select("id", "birthdate")
    left = base.select(F.col("id").alias("id_1"), F.col("birthdate").alias("bd_1"))
    right = base.select((F.col("id") - 1).alias("id_1"), F.col("birthdate").alias("bd_2"))
    ladder = (
        left.join(right, "id_1")
        .select(
            birthdate_similarity_pct(F.col("bd_1"), F.col("bd_2")).alias("bd_pct")
        )
        .groupBy("bd_pct")
        .agg(F.count("*").alias("n"))
        .select(
            F.concat(
                F.lit("bdsim_"),
                F.col("bd_pct").cast("int").cast("string"),
            ).alias("metric"),
            F.col("n").cast("double").alias("value"),
        )
    )
    return kpi.unionByName(overlap).unionByName(li).unionByName(by).unionByName(ladder)


# pa/pb AS MATERIALIZED: they feed five consumers; without it DuckDB
# re-opens the parquet per reference and exhausts fds with a
# misleading "could not open parquet" error.
LK_RUN_SUMMARY_SQL = f"""
WITH pa AS MATERIALIZED ({PERSONS_A_SQL}), pb AS MATERIALIZED ({PERSONS_B_SQL}),
pairs AS MATERIALIZED (
  SELECT a.id AS id_1, b.id AS id_2
  FROM pa a JOIN pb b
    ON lower(a.first_name) = lower(b.first_name)
   AND lower(a.last_name) = lower(b.last_name)
   AND a.birthdate = b.birthdate
),
a2 AS MATERIALIZED (
  SELECT a.id AS id_1, b.id AS id_2 FROM pa a JOIN pb b
    ON lower(a.first_name) = lower(b.first_name)
   AND lower(a.last_name) = lower(b.last_name)
   AND a.birthdate = b.birthdate
   AND lower(a.middle_name) IS NOT DISTINCT FROM lower(b.middle_name)
),
stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_pairs,
         CAST(count(DISTINCT id_1) AS DOUBLE) AS m1,
         CAST(count(DISTINCT id_2) AS DOUBLE) AS m2
  FROM pairs
),
t1 AS (SELECT CAST(count(*) AS DOUBLE) AS n1 FROM pa),
t2 AS (SELECT CAST(count(*) AS DOUBLE) AS n2 FROM pb),
one AS (SELECT * FROM t1, t2, stats),
ladder AS (
  SELECT a.birthdate AS bd1, b.birthdate AS bd2
  FROM pa a JOIN pa b ON b.id = a.id + 1
)
SELECT 'table1_rows' AS metric, n1 AS value FROM one
UNION ALL SELECT 'table2_rows', n2 FROM one
UNION ALL SELECT 'matched_pairs', n_pairs FROM one
UNION ALL SELECT 'matched_persons_t1', m1 FROM one
UNION ALL SELECT 'matched_persons_t2', m2 FROM one
UNION ALL SELECT 'unmatched_t1', n1 - m1 FROM one
UNION ALL SELECT 'unmatched_t2', n2 - m2 FROM one
UNION ALL SELECT 'unmatched_rate_t1',
  CASE WHEN n1 > 0 THEN round(1.0 - m1 / n1, 6) ELSE 0.0 END FROM one
UNION ALL SELECT 'unmatched_rate_t2',
  CASE WHEN n2 > 0 THEN round(1.0 - m2 / n2, 6) ELSE 0.0 END FROM one
UNION ALL SELECT 'case_algo1', n_pairs FROM one
UNION ALL SELECT 'overlap_both', CAST(count(*) AS DOUBLE)
  FROM (SELECT * FROM pairs INTERSECT SELECT * FROM a2)
UNION ALL SELECT 'overlap_only_first', CAST(count(*) AS DOUBLE)
  FROM (SELECT * FROM pairs EXCEPT SELECT * FROM a2)
UNION ALL SELECT 'overlap_only_second', CAST(count(*) AS DOUBLE)
  FROM (SELECT * FROM a2 EXCEPT SELECT * FROM pairs)
UNION ALL
SELECT 'part_last_initial_' ||
  CASE WHEN upper(substr(trim(last_name), 1, 1)) BETWEEN 'A' AND 'Z'
       THEN upper(substr(trim(last_name), 1, 1)) ELSE 'other' END,
  CAST(count(*) AS DOUBLE)
FROM pa GROUP BY 1
UNION ALL
SELECT 'part_birthyear5_' ||
  CASE WHEN birthdate IS NULL THEN 'unknown'
       ELSE CAST(CAST(floor(year(birthdate) / 5) * 5 AS INT) AS VARCHAR) || '_'
            || CAST(CAST(floor(year(birthdate) / 5) * 5 + 4 AS INT) AS VARCHAR)
  END,
  CAST(count(*) AS DOUBLE)
FROM pa GROUP BY 1
UNION ALL
SELECT 'bdsim_' || CAST(CAST({_BD_PCT_SQL} AS INT) AS VARCHAR),
  CAST(count(*) AS DOUBLE)
FROM ladder GROUP BY 1
"""


QUERIES.update(
    {
        "wp_extract_entities": wp_extract_entities,
        "wp_linkage_pairs": wp_linkage_pairs,
        "wp_stream_linkage": wp_stream_linkage,
        "wp_url_canon": wp_url_canon,
        "wp_domain_stats": wp_domain_stats,
        "wp_text_extract": wp_text_extract,
        "wp_crawl_e2e": wp_crawl_e2e,
        "lk_run_summary": lk_run_summary,
    }
)
ORACLES.update(
    {
        "wp_extract_entities": WP_EXTRACT_SQL,
        "wp_linkage_pairs": LK_ALGO1_SQL,
        "wp_stream_linkage": LK_FUZZY_SQL,
        "wp_url_canon": WP_URL_CANON_SQL,
        "wp_domain_stats": WP_DOMAIN_STATS_SQL,
        "wp_text_extract": WP_TEXT_EXTRACT_SQL,
        "wp_crawl_e2e": WP_CRAWL_SQL,
        "lk_run_summary": LK_RUN_SUMMARY_SQL,
    }
)
