"""Connected components (large-star/small-star) pinned against a
driver-side union-find oracle on random graphs, plus the keep-one
dedup consumer."""

import random

import pytest

from pyspark.sql import functions as F

from traceframe_spark.operators.graph import connected_components, keep_canonical


def _union_find_components(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    # label every node with its component's min id
    nodes = {n for e in edges for n in e}
    roots = {}
    for n in nodes:
        r = find(n)
        roots.setdefault(r, []).append(n)
    return {n: min(members) for r, members in roots.items() for n in members}


@pytest.mark.volume
def test_connected_components_random_graphs(spark):
    rng = random.Random(7)
    for trial in range(3):
        n = 120
        # sparse random graph: long chains + a few dense pockets
        edges = [(i, i + 1) for i in range(0, 40)]  # one 41-node chain
        edges += [
            (rng.randrange(n), rng.randrange(n)) for _ in range(60)
        ]
        edges = [(u, v) for u, v in edges if u != v]
        expected = _union_find_components(edges)

        df = spark.createDataFrame(edges, "id_a: long, id_b: long")
        got = {
            r["id"]: r["component"]
            for r in connected_components(df).collect()
        }
        assert got == expected, f"trial {trial} mismatch"


def test_connected_components_string_ids(spark):
    edges = [("b", "c"), ("a", "b"), ("x", "y")]
    df = spark.createDataFrame(edges, "id_a: string, id_b: string")
    got = {r["id"]: r["component"] for r in connected_components(df).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_connected_components_chain_beats_diameter(spark):
    # a 200-node path has diameter 199; star contraction must converge
    # within the max_iter=25 O(log^2 n) budget, where label propagation
    # would need ~200 rounds.
    edges = [(i, i + 1) for i in range(199)]
    df = spark.createDataFrame(edges, "id_a: long, id_b: long")
    out = connected_components(df).collect()
    assert len(out) == 200
    assert {r["component"] for r in out} == {0}


def test_keep_canonical_drops_non_representatives(spark):
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(10)], "doc_id: long, text: string"
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], "id_a: long, id_b: long"
    )
    comp = connected_components(pairs)
    kept = keep_canonical(docs, "doc_id", comp)
    kept_ids = sorted(r["doc_id"] for r in kept.collect())
    # clusters {1,2,3} -> keep 1; {7,8} -> keep 7; singletons untouched
    assert kept_ids == [0, 1, 4, 5, 6, 7, 9]


def test_connected_components_empty_and_single_edge(spark):
    empty = spark.createDataFrame([], "id_a: long, id_b: long")
    assert connected_components(empty).count() == 0
    one = spark.createDataFrame([(5, 3)], "id_a: long, id_b: long")
    got = {r["id"]: r["component"] for r in connected_components(one).collect()}
    assert got == {3: 3, 5: 3}
    # self-loops are dropped, not clustered
    loops = spark.createDataFrame([(7, 7)], "id_a: long, id_b: long")
    assert connected_components(loops).count() == 0


def test_pagerank_cycle_is_uniform(spark):
    """On a directed 3-cycle every node's rank is exactly 1/3 at every
    iteration (teleport + full in-mass balance)."""
    from traceframe_spark.operators.graph import pagerank

    e = spark.createDataFrame([(1, 2), (2, 3), (3, 1)], "src long, dst long")
    got = {r["node"]: r["rank"] for r in pagerank(e, n_iter=3).collect()}
    assert all(abs(v - 1 / 3) < 1e-12 for v in got.values())


def test_pagerank_star_and_dangling_hand_values(spark):
    """Hub-and-spoke with a dangling sink: 1->2, 1->3, 2->1, 3->sink 4.
    One iteration from uniform r=1/4, d=0.85:
      contribs: node1 <- 1/4 (from 2); node2 <- 1/8; node3 <- 1/8;
                node4 <- 1/4 (from 3); dangling mass = 1/4 (node 4).
      rank(n) = 0.15/4 + 0.85*(in + (1/4)/4)
    """
    from traceframe_spark.operators.graph import pagerank

    e = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 1), (3, 4)], "src long, dst long"
    )
    got = {r["node"]: r["rank"] for r in pagerank(e, n_iter=1).collect()}
    base = 0.15 / 4 + 0.85 * (0.25 / 4)
    assert abs(got[1] - (base + 0.85 * 0.25)) < 1e-12
    assert abs(got[2] - (base + 0.85 * 0.125)) < 1e-12
    assert abs(got[3] - (base + 0.85 * 0.125)) < 1e-12
    assert abs(got[4] - (base + 0.85 * 0.25)) < 1e-12
    # total mass is conserved (sums to 1 with dangling redistribution)
    assert abs(sum(got.values()) - 1.0) < 1e-12


def test_triangle_enumeration_exact(spark):
    """Hand-built graph: K4 on {1,2,3,4} (4 triangles), a pendant
    (4-5), a star at 10 (no triangles among leaves), a duplicate and a
    reversed edge (must not double-count), and a self-loop (dropped)."""
    from traceframe_spark.operators import graph

    edges = [
        (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),  # K4
        (4, 5),                                           # pendant
        (10, 11), (10, 12), (10, 13),                     # star
        (2, 1), (3, 1),                                   # reversed dups
        (7, 7),                                           # self-loop
    ]
    e = spark.createDataFrame(edges, "src long, dst long")
    tri = sorted(
        tuple(r) for r in graph.triangles(e).collect()
    )
    assert tri == [(1, 2, 3), (1, 2, 4), (1, 3, 4), (2, 3, 4)]

    part = {r["v"]: r["n_triangles"] for r in graph.triangle_participation(e).collect()}
    assert part == {1: 3, 2: 3, 3: 3, 4: 3}


def test_triangle_hub_orientation(spark):
    """A high-degree hub with triangles only at its rim: the oriented
    enumeration still finds them all (orientation must not lose
    triangles whose lowest-degree vertex is not the lowest id)."""
    from traceframe_spark.operators import graph

    hub = [(100, i) for i in range(20)]          # hub 100 -> 20 leaves
    rim = [(0, 1), (2, 3)]                        # two rim edges close triangles
    e = spark.createDataFrame(hub + rim, "src long, dst long")
    tri = sorted(tuple(r) for r in graph.triangles(e).collect())
    assert tri == [(0, 1, 100), (2, 3, 100)]


def test_connected_components_releases_superseded_rounds(spark):
    """Each round releases the checkpoint it superseded: a many-round
    chain leaves one round's edges pinned (the returned frame's), not
    one per round."""
    sc = spark.sparkContext

    def pinned():
        return set(dict(sc._jsc.getPersistentRDDs()))

    before = pinned()
    edges = [(i, i + 1) for i in range(399)]
    df = spark.createDataFrame(edges, "id_a: long, id_b: long")
    comp = connected_components(df)
    assert len(pinned() - before) <= 1
    out = comp.collect()
    assert len(out) == 400 and {r["component"] for r in out} == {0}
