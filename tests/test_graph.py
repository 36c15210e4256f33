"""Connected components (large-star/small-star) vs a reference
union-find, and pair→cluster resolution semantics."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from duo_spark.operators import dedup
from duo_spark.operators import graph as G
from duo_spark.operators.graph import connected_components


def _union_find(edges: list[tuple[int, int]]) -> dict[int, int]:
    """Reference labels: min node id per component, driver-side."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def _cc(spark, edges: list[tuple[int, int]]) -> dict[int, int]:
    df = spark.createDataFrame(edges or [(0, 0)], "a long, b long")
    if not edges:
        df = df.filter(F.lit(False))
    got = connected_components(df, "a", "b")
    return {r.node: r.component for r in got.collect()}


def test_cc_chain(spark, monkeypatch):
    # a long chain is the worst case for naive propagation; force the
    # distributed star loop (cutoff 0 disables the driver fast path)
    monkeypatch.setattr(G, "SMALL_GRAPH_EDGES", 0)
    edges = [(i, i + 1) for i in range(1, 30)]
    assert _cc(spark, edges) == _union_find(edges)


def test_cc_multiple_components_and_cycles(spark, monkeypatch):
    monkeypatch.setattr(G, "SMALL_GRAPH_EDGES", 0)
    edges = [(1, 2), (2, 3), (3, 1), (10, 11), (12, 11), (20, 21), (21, 22), (22, 20), (7, 7)]
    want = _union_find([(a, b) for a, b in edges if a != b])
    assert _cc(spark, edges) == want


def test_cc_random_graph_matches_union_find(spark, monkeypatch):
    rng = random.Random(13)
    nodes = list(range(100))
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(120)]
    edges = [(a, b) for a, b in edges if a != b]
    # distributed loop and driver union-find fast path must agree
    with monkeypatch.context() as m:
        m.setattr(G, "SMALL_GRAPH_EDGES", 0)
        assert _cc(spark, edges) == _union_find(edges)
    assert _cc(spark, edges) == _union_find(edges)


def test_cc_mid_loop_handoff_matches(spark, monkeypatch):
    # cutoff sits between the raw edge count (two 20-cliques = 380) and
    # the star-contracted count (→ ~38), so the loop runs distributed
    # rounds first and then hands the shrunken graph to the driver
    # union-find mid-loop
    monkeypatch.setattr(G, "SMALL_GRAPH_EDGES", 100)
    edges = [(a, b) for a in range(1, 21) for b in range(a + 1, 21)]
    edges += [(a, b) for a in range(100, 120) for b in range(a + 1, 120)]
    assert _cc(spark, edges) == _union_find(edges)


def test_iterative_operators_keep_only_blocks_their_result_reads(
    spark, monkeypatch, persistent_ids, plan_rdd_ids
):
    """Outside any scope, a multi-round CC and a bpe_train run release
    every superseded round: the only blocks they leave are the ones
    their returned plan reads (CC: the final star edge set; bpe: the
    final symbolized table; none when the table is not returned)."""
    from duo_spark.operators.bpe import bpe_train

    monkeypatch.setattr(G, "SMALL_GRAPH_EDGES", 0)  # distributed rounds
    chains = [(i, i + 1) for i in range(1, 301)]
    chains += [(i, i + 1) for i in range(1001, 1301)]
    df = spark.createDataFrame(chains, "a long, b long")
    before = persistent_ids()
    labels = connected_components(df, "a", "b")
    reads = plan_rdd_ids(labels)
    assert len(reads) == 1  # the distributed loop ran
    assert persistent_ids() - before == reads
    got = {r.node: r.component for r in labels.collect()}
    assert got == _union_find(chains)

    words = spark.createDataFrame(
        [("lower", 5), ("lowest", 2), ("newer", 6), ("wider", 3)],
        "word string, cnt long",
    )
    before = persistent_ids()
    table, merges = bpe_train(words, k=4)
    assert len(merges) == 4
    assert persistent_ids() - before == plan_rdd_ids(table)
    assert len(plan_rdd_ids(table)) == 1
    before = persistent_ids()
    _none, merges = bpe_train(words, k=4, return_table=False)
    assert persistent_ids() - before == set()


def test_cc_empty(spark):
    assert _cc(spark, []) == {}


def test_near_dup_clusters_singletons_and_canonicals(spark):
    docs = spark.createDataFrame([(i,) for i in range(1, 8)], "doc_id long")
    pairs = spark.createDataFrame(
        [(2, 5), (5, 6), (3, 4)], "id_a long, id_b long"
    )
    rows = {
        r.doc_id: (r.cluster_id, r.is_canonical)
        for r in dedup.near_dup_clusters(docs, "doc_id", pairs).collect()
    }
    assert rows == {
        1: (1, True),
        2: (2, True),
        5: (2, False),
        6: (2, False),
        3: (3, True),
        4: (3, False),
        7: (7, True),
    }
    assert len(rows) == 7


# ---------------------------------------------------------------------
# pagerank
# ---------------------------------------------------------------------

def test_pagerank_matches_numpy_reference(spark):
    """Distributed PR == dense numpy power iteration on a graph with a
    dangling node, weighted edges, and a cycle; ranks sum to 1."""
    import numpy as np
    from duo_spark.operators.graph import pagerank

    edges = [("a", "b", 3.0), ("a", "c", 1.0), ("b", "c", 2.0),
             ("c", "a", 1.0), ("b", "d", 2.0)]  # d is dangling
    df = spark.createDataFrame(edges, "src string, dst string, w double")
    got = {r.node: r["rank"] for r in
           pagerank(df, weight="w", damping=0.85, iterations=7).collect()}
    nodes = ["a", "b", "c", "d"]
    P = np.zeros((4, 4))
    idx = {n: i for i, n in enumerate(nodes)}
    outw = {}
    for s, t, w in edges:
        outw[s] = outw.get(s, 0.0) + w
    for s, t, w in edges:
        P[idx[t], idx[s]] = w / outw[s]
    r = np.full(4, 0.25)
    for _ in range(7):
        dang = sum(r[idx[n]] for n in nodes if n not in outw)
        r = 0.15 / 4 + 0.85 * (P @ r + dang / 4)
    for n in nodes:
        assert abs(got[n] - r[idx[n]]) < 1e-12, (n, got[n], r[idx[n]])
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_pagerank_unweighted_and_validation(spark):
    from duo_spark.operators.graph import pagerank
    import pytest as _pytest

    df = spark.createDataFrame([("x", "y")], "src string, dst string")
    got = {r.node: r["rank"] for r in pagerank(df, iterations=1).collect()}
    # n=2: y gets (1-d)/2 + d*(0.5 + 0)  [x's full rank, no dangling->x had outedge; y dangling]
    assert abs(sum(got.values()) - 1.0) < 1e-9
    with _pytest.raises(ValueError, match="iterations"):
        pagerank(df, iterations=0)


# ---------------------------------------------------------------------
# label_propagation (round 5)
# ---------------------------------------------------------------------

def test_label_propagation_two_cliques_weak_bridge(spark):
    """Two dense triangles joined by one weak edge: LPA splits them
    into two communities (CC would merge them into one), each labeled
    by its minimum member."""
    from pyspark.sql import functions as F
    from duo_spark.operators.graph import connected_components, label_propagation

    tri1 = [(1, 2), (2, 3), (1, 3)]
    tri2 = [(10, 11), (11, 12), (10, 12)]
    bridge = [(3, 10)]
    edges = spark.createDataFrame(tri1 + tri2 + bridge, "src long, dst long")
    lab = {r.node: r.label
           for r in label_propagation(edges, iterations=4).collect()}
    assert len({lab[1], lab[2], lab[3]}) == 1
    assert len({lab[10], lab[11], lab[12]}) == 1
    assert lab[1] != lab[10]
    cc = connected_components(
        edges.select(F.col("src").alias("id_a"), F.col("dst").alias("id_b")),
        "id_a", "id_b")
    assert cc.select("component").distinct().count() == 1


def test_label_propagation_sync_deterministic(spark):
    """Same graph, shuffled input order and different partitioning:
    identical labels (the async-LPA nondeterminism is designed out)."""
    import random
    rng = random.Random(3)
    edges = [(rng.randint(0, 40), rng.randint(0, 40)) for _ in range(120)]
    edges = [(a, b) for a, b in edges if a != b]
    from duo_spark.operators.graph import label_propagation

    a = spark.createDataFrame(edges, "src long, dst long")
    shuffled = list(edges); rng.shuffle(shuffled)
    b = spark.createDataFrame(shuffled, "src long, dst long").repartition(7)
    la = sorted((r.node, r.label) for r in label_propagation(a).collect())
    lb = sorted((r.node, r.label) for r in label_propagation(b).collect())
    assert la == lb


def test_label_propagation_weighted_pull(spark):
    """Weights steer adoption: node 3 ties 1-vs-2 by count but the
    heavier edge wins."""
    edges = spark.createDataFrame(
        [(1, 3, 5.0), (2, 3, 1.0)], "src long, dst long, w double")
    from duo_spark.operators.graph import label_propagation

    lab = {r.node: r.label
           for r in label_propagation(edges, weight="w", iterations=1).collect()}
    assert lab[3] == 1
