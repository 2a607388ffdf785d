"""Connected components + extraction round-trip."""

from __future__ import annotations

import random

import pytest

from name_matcher_spark.fixtures.pages import make_pages
from name_matcher_spark.fixtures.persons import make_dirty
from name_matcher_spark.operators.clustering import (
    cluster_pairs,
    connected_components,
    connected_components_bigstar,
)
from name_matcher_spark.operators.extract import extract_entities


def _uf_components(edges: list[tuple[int, int]]) -> set[frozenset[int]]:
    """Driver-side union-find oracle."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comps: dict[int, set[int]] = {}
    for n in parent:
        comps.setdefault(find(n), set()).add(n)
    return {frozenset(v) for v in comps.values()}


def _spark_components(df) -> set[frozenset[int]]:
    comps: dict[int, set[int]] = {}
    for r in df.collect():
        comps.setdefault(r.cluster_id, set()).add(r.node)
    return {frozenset(v) for v in comps.values()}


def test_connected_components_basic(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (5, 5)], ["src", "dst"]
    )
    got = {
        (r.node, r.cluster_id) for r in connected_components(edges).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10), (5, 5)}


def test_connected_components_chain(spark):
    # A longer chain exercises multi-iteration propagation.
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 20)], ["src", "dst"]
    )
    got = connected_components(edges).collect()
    assert all(r.cluster_id == 1 for r in got)
    assert len(got) == 20


def test_connected_components_reads_edges_once(spark):
    """Both edge directions come from one pass over the input: the
    caller's edge lineage (in dedup_pipeline, the whole verify join) is
    evaluated once, not once per direction."""
    sc = spark.sparkContext
    reads = sc.accumulator(0)
    rows = [(1, 2), (2, 3), (10, 11), (5, 5), (2, 1)]

    def counted(r):
        reads.add(1)
        return r

    edges = spark.createDataFrame(
        sc.parallelize(rows, 2).map(counted), "src long, dst long"
    )
    got = {(r.node, r.cluster_id) for r in connected_components(edges).collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10), (5, 5)}
    assert reads.value == len(rows)


def test_cluster_pairs_namespaces(spark):
    pairs = spark.createDataFrame(
        [(1, 7, 1.0), (2, 7, 1.0), (3, 9, 0.5)],
        ["id_1", "id_2", "confidence"],
    )
    got = {
        (r.side, r.id, r.cluster_id)
        for r in cluster_pairs(pairs, threshold=0.95).collect()
    }
    # a1-b7-a2 form one cluster (min encoded node = 2*1 = 2);
    # the 0.5-confidence pair is below threshold -> no cluster.
    assert got == {("a", 1, 2), ("b", 7, 2), ("a", 2, 2)}


@pytest.mark.parametrize(
    "name,edges",
    [
        ("basic", [(1, 2), (2, 3), (10, 11), (5, 5)]),
        ("deep_chain", [(i, i + 1) for i in range(1, 120)]),
        ("two_cliques_bridged", [(a, b) for a in range(1, 8) for b in range(a + 1, 8)]
         + [(a, b) for a in range(100, 107) for b in range(a + 1, 107)]
         + [(7, 100)]),
        ("random", [
            (rng.randrange(0, 300), rng.randrange(0, 300))
            for rng in [random.Random(42)]
            for _ in range(400)
        ]),
    ],
)
def test_bigstar_matches_union_find(spark, name, edges):
    """Large-star/small-star (the O(log n)-round scale path) against a
    driver-side union-find on adversarial shapes — including a
    120-deep chain, where plain propagation needs O(diameter) rounds."""
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = _spark_components(connected_components_bigstar(df))
    want = _uf_components(edges)
    assert got == want
    # cluster ids are the component minimum (same convention as
    # propagate, so the two methods are interchangeable downstream)
    for r in connected_components_bigstar(df).collect():
        assert r.cluster_id <= r.node


def test_cluster_pairs_methods_agree(spark):
    pairs = spark.createDataFrame(
        [(1, 7, 1.0), (2, 7, 1.0), (3, 9, 0.99), (4, 9, 0.99), (6, 2, 1.0)],
        ["id_1", "id_2", "confidence"],
    )
    a = {(r.side, r.id, r.cluster_id) for r in cluster_pairs(pairs).collect()}
    b = {
        (r.side, r.id, r.cluster_id)
        for r in cluster_pairs(pairs, method="bigstar").collect()
    }
    assert a == b


def test_extraction_byte_identical(spark):
    """BASELINE.json per-row invariant: extracted entity text per url is
    byte-identical to the generator's expected value."""
    a_pd, _, _ = make_dirty(300)
    pages_pd = make_pages(a_pd, table_tag="a")
    pages = spark.createDataFrame(pages_pd)
    extracted = extract_entities(pages.drop("expected_entity"))
    joined = (
        extracted.select("url", "entity_text")
        .join(pages.select("url", "expected_entity"), "url")
        .collect()
    )
    assert len(joined) == 300
    for r in joined:
        assert r.entity_text == r.expected_entity, r.url


def test_extraction_field_parse(spark):
    a_pd, _, _ = make_dirty(100)
    pages = spark.createDataFrame(make_pages(a_pd, "a")).drop("expected_entity")
    ext = extract_entities(pages).orderBy("id").toPandas()
    assert list(ext["id"]) == list(a_pd["id"])
    assert list(ext["first_name"]) == list(a_pd["first_name"])
    # None round-trips through the "" rendering
    assert [m if m is not None else None for m in ext["middle_name"]] == list(
        a_pd["middle_name"]
    )
    assert list(ext["birthdate"]) == list(a_pd["birthdate"])


def test_cluster_pairwise_f1_on_labeled_pairs(spark):
    """North-rule wording: 'matching the reference's entity clusters
    (pairwise F1>=0.99) on labeled pairs at the same blocking key'.
    Predicted same-cluster relation (cross-side pairs sharing a cluster
    id) vs the transitive closure of the scalar-mirror match set."""
    from name_matcher_spark.fixtures.persons import make_dirty
    from name_matcher_spark.operators.clustering import cluster_pairs
    from name_matcher_spark.operators.fuzzy_join import match_fuzzy
    from name_matcher_spark.operators.prepare import prepare_persons
    from tests.test_fuzzy import _oracle_pairs

    a_pd, b_pd, _ = make_dirty(1500)
    a = prepare_persons(spark.createDataFrame(a_pd), include_middle=False)
    b = prepare_persons(spark.createDataFrame(b_pd), include_middle=False)
    pairs = match_fuzzy(a, b, include_middle=False, blocking="birthdate")
    comp = cluster_pairs(pairs, threshold=0.95).collect()
    by_cluster = {}
    for r in comp:
        by_cluster.setdefault(r.cluster_id, {"a": set(), "b": set()})[r.side].add(r.id)
    predicted = {
        (ia, ib)
        for grp in by_cluster.values()
        for ia in grp["a"]
        for ib in grp["b"]
    }

    # Truth: union-find closure over the mirror's >=0.95 pairs.
    oracle = {k for k, s in _oracle_pairs(a_pd, b_pd, False).items() if s >= 95.0}
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for ia, ib in oracle:
        ra, rb = find(("a", ia)), find(("b", ib))
        if ra != rb:
            parent[ra] = rb
    groups: dict = {}
    for ia, ib in oracle:
        groups.setdefault(find(("a", ia)), {"a": set(), "b": set()})
        groups[find(("a", ia))]["a"].add(ia)
        groups[find(("b", ib))]["b"].add(ib)
    actual = {
        (ia, ib)
        for grp in groups.values()
        for ia in grp["a"]
        for ib in grp["b"]
    }

    tp = len(predicted & actual)
    precision = tp / len(predicted) if predicted else 1.0
    recall = tp / len(actual) if actual else 1.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    assert f1 >= 0.99, f"cluster pairwise F1={f1:.4f} (p={precision:.4f} r={recall:.4f})"
    assert actual, "labeled closure must be non-empty"


def test_cluster_pairs_full_long_range_and_negative_ids(spark):
    """Decode must be integer bit arithmetic: floor(node/2) goes
    through double division and silently corrupts ids beyond 2^53 —
    exactly the range of xxhash64-derived doc ids. Negative ids must
    round-trip too."""
    big = (1 << 60) + 7
    pairs = spark.createDataFrame(
        [(big, big - 1, 1.0), (-5, -6, 1.0)],
        "id_1 long, id_2 long, confidence double",
    )
    got = {(r.side, r.id) for r in cluster_pairs(pairs).collect()}
    assert {("a", big), ("b", big - 1), ("a", -5), ("b", -6)} <= got


def test_cluster_pairs_int_typed_ids_do_not_wrap(spark):
    """IntegerType id columns must be widened BEFORE the shift:
    shiftleft on an int stays int and wraps at 32 bits, silently
    decoding 1_500_000_000 to a negative id."""
    pairs = spark.createDataFrame(
        [(1_500_000_000, 1_500_000_001, 1.0)],
        "id_1 int, id_2 int, confidence double",
    )
    got = {(r.side, r.id) for r in cluster_pairs(pairs).collect()}
    assert {("a", 1_500_000_000), ("b", 1_500_000_001)} <= got


def test_cluster_pairs_rejects_null_and_oversized_ids(spark):
    """Null or >=2^62 ids cannot be encoded into the 2*id namespace;
    they must fail LOUDLY at encode time, not land in a wrong cluster."""
    import pytest as _pytest

    bad_null = spark.createDataFrame(
        [(None, 1, 1.0)], "id_1 long, id_2 long, confidence double"
    )
    with _pytest.raises(Exception, match="cluster_pairs"):
        cluster_pairs(bad_null).collect()
    bad_big = spark.createDataFrame(
        [(1 << 62, 1, 1.0)], "id_1 long, id_2 long, confidence double"
    )
    with _pytest.raises(Exception, match="cluster_pairs"):
        cluster_pairs(bad_big).collect()
    # Long.MIN_VALUE must hit the SAME guard, not an abs() overflow
    # (ANSI) or a silent wrap onto node 0 (non-ANSI)
    bad_min = spark.createDataFrame(
        [(-(1 << 63), 1, 1.0)], "id_1 long, id_2 long, confidence double"
    )
    with _pytest.raises(Exception, match="cluster_pairs"):
        cluster_pairs(bad_min).collect()
