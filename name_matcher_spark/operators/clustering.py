"""Transitive clustering: connected components over the match-pair graph.

The reference stops at best-match argmax; BASELINE.json's north rule
adds transitive closure into entity clusters. Two methods, same
contract (GraphFrames is not available in this environment):

* ``propagate`` — iterative min-label propagation, one shuffle per
  round, O(diameter) rounds. Linkage graphs are star-like around base
  records (small diameter), so this is the right cost model for the
  common case and the cheapest per round.
* ``bigstar`` — alternating large-star/small-star contraction (the
  published MapReduce-CC scheme of Kiveris et al., "Connected
  Components in MapReduce and Beyond", SoCC'14): O(log n) rounds
  regardless of diameter. The scale path for adversarial inputs —
  long duplicate chains (serial re-crawls, chained aliases) where
  propagation would take hundreds of rounds.

Each round localCheckpoints so plans don't grow exponentially.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """edges(src: long, dst: long) -> (node: long, cluster_id: long)
    where cluster_id = min node id in the component. Isolated nodes
    (absent from edges) are the caller's concern."""
    e = edges.select(
        F.col(src).cast("long").alias("src"), F.col(dst).cast("long").alias("dst")
    ).filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
    # Undirected: keep both directions once, dedup. Both directions
    # come out of ONE pass over `e` (a two-element explode per edge):
    # a union of `e` with its swap would evaluate the caller's edge
    # lineage twice — in dedup_pipeline that lineage is the whole
    # LSH + verify join. Eager checkpoint (r06): materializing the edge
    # table up front tells us its size, and the loop below re-plans
    # every round, so the one extra scheduler round trip buys a
    # SCALE-ADAPTIVE partition count for all O(diameter) round jobs
    # (guide §2: partitioning derived from input size, not a constant
    # tuned for either local mode or the cluster).
    both = F.array(
        F.struct(F.col("src").alias("src"), F.col("dst").alias("dst")),
        F.struct(F.col("dst").alias("src"), F.col("src").alias("dst")),
    )
    bidir = (
        e.select(F.explode(both).alias("_e"))
        .select("_e.src", "_e.dst")
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_edges = bidir.count()  # metadata-cheap: already materialized

    # The loop's tables are a few 16-byte columns per edge; at the
    # session's shuffle-partition setting every round pays task count,
    # not data (measured: 150k-pair linkage loop 2.7-4.1 s at 32
    # partitions vs 1.1-1.6 s sized to the data). Derive the loop's
    # partition count from the edge count (~250k edge rows per task),
    # clamped by the session setting so large graphs keep full
    # parallelism — the session conf is restored before returning, and
    # the returned labels are an already-materialized checkpoint, so
    # nothing downstream inherits the override.
    spark = bidir.sparkSession
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    loop_parts = max(1, min(int(old_parts), -(-n_edges // 250_000)))

    # Initial labels: min over the CLOSED 1-hop neighborhood, not the
    # node itself (r06). The node universe needs a groupBy on src
    # either way (bidir is symmetric, so every node appears as src);
    # folding min(dst) into that same aggregate performs round 1 of
    # min-label propagation for free — the loop below then starts from
    # the 1-hop state and converges exactly one round (= one full
    # shuffle job) earlier on every graph. Same fixpoint, same labels:
    # the iteration new[v] = min(old[v], min over neighbors) reaches
    # the identical component-min labeling from either start.
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(loop_parts))
        return _propagate_loop(bidir, max_iter)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)


def _propagate_loop(bidir: DataFrame, max_iter: int) -> DataFrame:
    labels = (
        bidir.groupBy(F.col("src").alias("node"))
        .agg(F.min("dst").alias("_mn"))
        .select("node", F.least(F.col("_mn"), F.col("node")).alias("cluster_id"))
        .localCheckpoint(eager=False)
    )

    for _ in range(max_iter):
        # One aggregation computes both the new label and whether it
        # changed: self rows carry the old label flagged, neighbor rows
        # carry candidate labels; changed <=> min(all) < min(self).
        neighbor_labels = bidir.join(
            labels, bidir["dst"] == labels["node"], "inner"
        ).select(
            F.col("src").alias("node"),
            F.col("cluster_id"),
            F.lit(False).alias("is_self"),
        )
        merged = neighbor_labels.union(
            labels.select("node", "cluster_id", F.lit(True).alias("is_self"))
        )
        new_labels = (
            merged.groupBy("node")
            .agg(
                F.min("cluster_id").alias("cluster_id"),
                (
                    F.min("cluster_id")
                    < F.min(F.when(F.col("is_self"), F.col("cluster_id")))
                ).alias("_changed"),
            )
            .localCheckpoint(eager=False)
        )
        # One job per round: this count scans EVERY partition (no
        # limit — a partial action must not materialize a lazy
        # checkpoint), so it materializes the round's checkpoint AND
        # returns the convergence signal in the same job.
        any_changed = new_labels.filter(F.col("_changed")).count() > 0
        labels = new_labels.drop("_changed")
        if not any_changed:
            break
    return labels


def _large_star(e: DataFrame) -> DataFrame:
    """(u,v) edges -> for every node u: connect each LARGER neighbor to
    m(u) = min(N(u) ∪ {u}). Strictly decreases large neighbors' labels;
    never creates an edge between two nodes both larger than m."""
    bidir = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    m = (
        bidir.groupBy("u")
        .agg(F.min("v").alias("mn"))
        .select("u", F.least("mn", F.col("u")).alias("m"))
    )
    return (
        bidir.join(m, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Direct every edge large->small; for each node u connect all its
    smaller neighbors (and u itself) to m(u) = min of those."""
    d = e.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).filter(F.col("u") != F.col("v"))
    m = d.groupBy("u").agg(F.min("v").alias("m"))
    nbrs = d.join(m, "u")
    emit1 = nbrs.filter(F.col("v") != F.col("m")).select(
        F.col("v").alias("u"), F.col("m").alias("v")
    )
    emit2 = m.select("u", F.col("m").alias("v"))
    return emit1.union(emit2).filter(F.col("u") != F.col("v")).distinct()


def connected_components_bigstar(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 40,
) -> DataFrame:
    """Alternating large-star/small-star contraction. Same contract as
    ``connected_components``; O(log n) rounds independent of graph
    diameter. Convergence when the edge multiset fixpoints, detected
    via (count, sum(u), sum(v)) — label sums are monotone under both
    transforms, so the triple is stationary only at the fixpoint."""
    raw = edges.select(
        F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
    ).filter(F.col("u").isNotNull() & F.col("v").isNotNull())
    # Self-loop-only nodes are singleton components (same contract as
    # propagate), so collect the node universe BEFORE dropping loops.
    all_nodes = (
        raw.select(F.col("u").alias("node"))
        .union(raw.select(F.col("v").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    e = (
        raw.filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    prev_sig = None
    for _ in range(max_iter):
        # Lazy checkpoint materialized by the signature agg below —
        # one full-scan job per round (see connected_components).
        e = _small_star(_large_star(e)).localCheckpoint(eager=False)
        # Sums in decimal(38,0): encoded nodes legitimately reach ~2^63
        # (encode_edges admits |id| < 2^62), so a long partial sum of
        # two such nodes already overflows — ARITHMETIC_OVERFLOW under
        # ANSI, a silently wrong (still fixpoint-safe, but why risk it)
        # signature without.
        sig = e.agg(
            F.count("*").alias("c"),
            F.sum(F.col("u").cast("decimal(38,0)")).alias("su"),
            F.sum(F.col("v").cast("decimal(38,0)")).alias("sv"),
        ).collect()[0]
        sig = (sig["c"], sig["su"], sig["sv"])
        if sig == prev_sig:
            break
        prev_sig = sig
    # Fixpoint is a star forest: every non-root points straight at its
    # component min. Roots appear only on the v side (or not at all for
    # singleton inputs, excluded upstream).
    labels = e.groupBy("u").agg(F.min("v").alias("cluster_id")).select(
        F.col("u").alias("node"), "cluster_id"
    )
    roots = all_nodes.join(
        labels.select("node"), "node", "left_anti"
    ).withColumn("cluster_id", F.col("node"))
    return labels.unionByName(roots)


def cluster_pairs(
    pairs: DataFrame, threshold: float = 0.95, method: str = "propagate"
) -> DataFrame:
    """Match pairs (id_1, id_2, confidence) -> (side, id, cluster_id).

    Node namespace: table-A ids map to 2*id, table-B ids to 2*id+1 so
    the two id spaces never collide; cluster_id is the min encoded node
    (stable, deterministic). Ids must be non-null and |id| < 2^62 (the
    doubling headroom) — violations fail the job loudly at encode time
    rather than landing a hash-range id in the wrong cluster. Decode is
    pure integer bit arithmetic (shiftright / & 1), NOT floor(node/2):
    long/long division goes through double in Spark SQL and silently
    loses precision beyond 2^53 — exactly the range of xxhash64-derived
    doc ids.
    """
    edges = encode_edges(pairs, threshold)
    if method == "bigstar":
        comp = connected_components_bigstar(edges)
    elif method == "propagate":
        comp = connected_components(edges)
    else:
        raise ValueError(f"unknown clustering method: {method}")
    return decode_components(comp)


def encode_edges(pairs: DataFrame, threshold: float) -> DataFrame:
    """(id_1, id_2, confidence) -> (src, dst) in the shared node
    namespace. Used by both the batch path above and the incremental
    label store (streaming/clustering.py), so the two can never drift."""
    id_cap = 1 << 62

    def enc(col: str, off: int):
        # Cast to long FIRST: shiftleft on an IntegerType column wraps
        # at 32 bits (silent wrong id — the exact failure this guard
        # exists to prevent). Range check via two comparisons, not
        # abs(): abs(Long.MIN_VALUE) itself overflows under ANSI and
        # wraps under non-ANSI (where MIN_VALUE would then encode to
        # node 0 and merge into id 0's cluster).
        v = F.col(col).cast("long")
        guarded = F.assert_true(
            v.isNotNull() & (v > F.lit(-id_cap)) & (v < F.lit(id_cap)),
            # coalesce: concat(lit, NULL) is NULL, which would erase
            # the whole error message exactly when the id is NULL
            F.concat(
                F.lit(f"cluster_pairs: {col} null or |id|>=2^62: "),
                F.coalesce(v.cast("string"), F.lit("NULL")),
            ),
        )
        # assert_true returns NULL on success; fold it in so it is not
        # pruned as an unused projection.
        return F.coalesce(guarded.cast("long"), F.shiftleft(v, 1) + F.lit(off))

    return pairs.filter(F.col("confidence") >= threshold).select(
        enc("id_1", 0).alias("src"), enc("id_2", 1).alias("dst")
    )


def decode_components(comp: DataFrame) -> DataFrame:
    """(node, cluster_id) -> (side, id, cluster_id), inverse of
    encode_edges over the full long range."""
    return comp.select(
        F.when(F.col("node").bitwiseAND(F.lit(1)) == 0, F.lit("a"))
        .otherwise(F.lit("b"))
        .alias("side"),
        F.shiftright(F.col("node"), 1).alias("id"),
        F.col("cluster_id"),
    )
