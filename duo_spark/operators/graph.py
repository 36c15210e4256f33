"""Distributed connected components for dedup-cluster resolution.

Near-duplicate detection (minhash/simhash/embedding pairs — see
``operators/dedup.py``, ``operators/similarity.py``) emits *pairs*; a
training-data pipeline needs *clusters* so it can keep one canonical
document per duplicate group. Pair→cluster resolution is connected
components over the pair graph.

The reference has no graph surface (its dedup story ends at nothing —
this is a north-star extension), so the algorithm choice is purely a
scale question. A driver-side union-find dies at 100 TB (the pair set
alone can be billions of edges), and naive min-label propagation needs
O(graph diameter) shuffles. This module implements the alternating
large-star / small-star algorithm (Kiveris et al., "Connected
Components in MapReduce and Beyond", 2014): every round is two
hash-shuffles on node id (groupBy + equi-join, AQE-coalesced), the
edge set only shrinks toward component stars, and convergence is
O(log²n) rounds (2-4 in practice on dedup graphs, whose components are
near-cliques). No driver-side graph state — only a (count, checksum)
pair per round for the fixpoint test.

At convergence every component is a star rooted at its minimum node
id, so the component label IS the star center.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from duo_spark.operators.materialize import (
    checkpoint,
    fits_driver,
    persist_count,
    release,
    together,
)


def _canonical_edges(pairs: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """(src, dst) long edges with src < dst, nulls and self-loops dropped."""
    a, b = F.col(a_col).cast("long"), F.col(b_col).cast("long")
    return (
        pairs.select(
            F.least(a, b).alias("src"),
            F.greatest(a, b).alias("dst"),
        )
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _symmetric(edges: DataFrame) -> DataFrame:
    return edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to m(u) = min(Γ(u) ∪ {u}).

    One groupBy(u) for the neighborhood minimum, one equi-join back —
    both hash-partitioned on node id, so they share a shuffle exchange.
    """
    sym = _symmetric(edges)
    m = sym.groupBy("src").agg(F.min("dst").alias("_mn"))
    m = m.select("src", F.least(F.col("src"), F.col("_mn")).alias("_m"))
    return (
        sym.join(m, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("_m").alias("src"), F.col("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Connect every ≤ neighbor of u (over edges oriented dst≤u) to m(u)."""
    oriented = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    )
    m = oriented.groupBy("src").agg(F.min("dst").alias("_m"))
    out = (
        oriented.join(m, "src")
        # each small neighbor v (≤ u) links to m; u itself links to m too
        .select(F.col("_m").alias("src"), F.col("dst"), F.col("src").alias("_u"))
    )
    links = out.select("src", "dst").union(
        out.select("src", F.col("_u").alias("dst"))
    )
    return links.filter(F.col("src") != F.col("dst")).distinct()


def _fingerprint(edges: DataFrame) -> tuple[int, int]:
    # bit_xor fold: order-independent and overflow-free under ANSI mode
    # (a SUM of xxhash64 longs overflows); edge sets are distinct so
    # xor-cancellation of repeated rows can't occur
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64("src", "dst")), F.lit(0)).alias("h"),
    ).first()
    return int(row["n"]), int(row["h"])


#: edge count below which the star loop hands off to a driver-side
#: union-find. Distributed rounds cost ~6 jobs each regardless of
#: size; 2M (src, dst) longs is ~32 MB on the driver — trivial —
#: while saving O(log n) shuffle rounds. The distributed loop is
#: still the 100 TB path: star contraction SHRINKS the edge set every
#: round, so huge graphs fall under the cutoff after a few rounds and
#: the tail finishes in one collect instead of several more rounds.
SMALL_GRAPH_EDGES = 2_000_000


def _driver_components(spark, edges) -> DataFrame:
    """(node, component) of a pandas (src, dst) edge frame by a
    path-compressed union-find by min id on the driver."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in zip(edges["src"].tolist(), edges["dst"].tolist()):
        a, b = find(a), find(b)
        if a != b:  # union by min id so the root IS the component label
            if a > b:
                a, b = b, a
            parent[b] = a
    rows = [(n, find(n)) for n in parent]
    return spark.createDataFrame(rows, "node long, component long")


def connected_components(
    pairs: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    max_iterations: int = 20,
) -> DataFrame:
    """Resolve a pair graph to components: (node, component) rows.

    ``component`` is the minimum node id of the connected component.
    Only nodes that appear in at least one pair are returned — callers
    that want singleton rows join back to the full id set (see
    ``dedup.near_dup_clusters``).

    Each round checkpoints its edge set to truncate the lineage (an
    iterative plan would otherwise grow a new join+agg layer per round
    and recompile from the raw pairs every time) and releases the
    round it supersedes; the returned plan reads only the last one.

    Hybrid tail: the per-round fingerprint already counts edges, so
    when the (shrinking) edge set drops under ``SMALL_GRAPH_EDGES``
    the remaining components are resolved with one collect + driver
    union-find instead of more O(log n) shuffle rounds. Dedup pair
    graphs usually start under the cutoff — the distributed loop is
    the scale path, the driver finish is the latency path.
    """
    edges = _canonical_edges(pairs, a_col, b_col)
    spark = pairs.sparkSession
    # Fast path (round 15): a graph under the driver cutoff costs ONE
    # bounded collect instead of the 3-action checkpoint → fingerprint
    # → collect sequence (each driver-synchronized job costs ~50-200 ms
    # of fixed latency; CC runs inside 7 benched queries).
    small = fits_driver(edges, SMALL_GRAPH_EDGES)
    if small is not None:
        return _driver_components(spark, small)
    edges = checkpoint(edges)
    prev = _fingerprint(edges)
    if prev[0] <= SMALL_GRAPH_EDGES:
        rows = edges.toPandas()
        release(edges)
        return _driver_components(spark, rows)
    for _ in range(max_iterations):
        nxt = checkpoint(_small_star(_large_star(edges)))
        cur = _fingerprint(nxt)
        release(edges)
        edges = nxt
        if cur == prev:
            break
        if cur[0] <= SMALL_GRAPH_EDGES:
            # star rounds preserve every non-singleton node in the edge
            # set (the fixpoint labeling below relies on the same
            # property), so a union-find over the contracted edges
            # yields the final labels directly.
            rows = edges.toPandas()
            release(edges)
            return _driver_components(spark, rows)
        prev = cur
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} rounds"
        )
    # at the star fixpoint every edge is (component_min, member); the
    # symmetric min covers the center itself
    labels = (
        _symmetric(edges)
        .groupBy("src")
        .agg(F.min("dst").alias("_mn"))
        .select(
            F.col("src").alias("node"),
            F.least(F.col("src"), F.col("_mn")).alias("component"),
        )
    )
    return labels


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    damping: float = 0.85,
    iterations: int = 5,
    checkpoint_every: int = 1,
) -> DataFrame:
    """Weighted PageRank over an edge list — e.g. ranking services by
    how much call traffic flows INTO them through the dependency graph
    (operators/traces.py service_dependencies), the "criticality"
    score a service map colors by.

    Standard iteration: r'(v) = (1-d)/n + d·(Σ_{u→v} r(u)·w(u,v)/W(u)
    + dangling_mass/n), where W(u) is u's total out-weight and the
    rank of dangling nodes (no out-edges) is redistributed uniformly,
    so Σr = 1 at every step (asserted in tests). Unweighted graphs
    pass ``weight=None`` (every edge counts 1).

    Scale: the rank vector is (node, double) rows — joins against the
    edge list are plain equi-joins on the node id, partial-aggregated;
    each iteration localCheckpoints the new vector (k rows, k = node
    count) so lineage stays flat, and the dangling mass is ONE driver
    scalar per iteration. ``iterations`` is fixed (the usual
    production choice) — convergence-tested variants can compare
    successive vectors with the same machinery.
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    if checkpoint_every < 1:
        raise ValueError(f"checkpoint_every must be >= 1, got {checkpoint_every}")
    w = F.col(weight).cast("double") if weight else F.lit(1.0)
    e = checkpoint(
        edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"), w.alias("_w"))
    )
    # round 15: trans checkpoints CONCURRENTLY with the one-job node
    # persist+count (both read only e), and the initial rank vector is
    # a pure projection of the cached nodes (no job of its own)
    outw = e.groupBy("_s").agg(F.sum("_w").alias("_tot"))
    (nodes, n), trans = together(
        lambda: persist_count(
            e.select(F.col("_s").alias("node"))
            .unionByName(e.select(F.col("_d").alias("node")))
            .distinct()
        ),
        lambda: checkpoint(
            e.join(outw, "_s").select(
                "_s", "_d", (F.col("_w") / F.col("_tot")).alias("_p")
            )
        ),
    )
    sources = trans.select(F.col("_s").alias("node")).distinct()
    d = float(damping)
    # pr_ck: the last checkpointed rank vector, released when superseded
    pr, pr_ck = nodes.select("node", F.lit(1.0 / n).alias("rank")), None
    for it in range(iterations):
        # dangling mass stays IN the plan: a one-row aggregate cross
        # joined onto the update, so each iteration adds no driver
        # round-trip (the broadcast is a subquery of the next action)
        dangling = (
            pr.join(sources, "node", "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dang"))
        )
        contrib = (
            pr.join(trans, pr["node"] == trans["_s"])
            .groupBy(F.col("_d").alias("node"))
            .agg(F.sum(F.col("rank") * F.col("_p")).alias("_c"))
        )
        nxt = (
            nodes.join(contrib, "node", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                (
                    F.lit((1.0 - d) / n)
                    + F.lit(d)
                    * (F.coalesce("_c", F.lit(0.0)) + F.col("_dang") / F.lit(float(n)))
                ).alias("rank"),
            )
        )
        if (it + 1) % checkpoint_every == 0 and it + 1 < iterations:
            nxt = checkpoint(nxt)
            release(pr_ck)
            pr = pr_ck = nxt
        else:
            pr = nxt
    pr = checkpoint(pr)
    # the returned plan reads only the final checkpointed rank vector;
    # edge/node/transition scratch blocks are no longer reachable
    release(pr_ck, e, trans, nodes)
    return pr


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    iterations: int = 3,
) -> DataFrame:
    """Deterministic synchronous label propagation (community
    detection): every node starts as its own label; each round it
    adopts the label with the greatest incident edge weight among its
    neighbors' current labels (ties → smallest label; isolated-in-round
    nodes keep their label). Fixed ``iterations`` with SYNCHRONOUS
    updates makes the result schedule-independent — the property the
    classic async LPA lacks and the reason it can be oracle-replayed
    as chained SQL rounds.

    Communities differ from connected components (operators/graph.py
    connected_components): LPA splits a weakly-bridged component along
    its dense cores, which is the structure wanted when near-dup PAIR
    graphs chain unrelated documents through hub false-positives.

    Scale: per round, one equi-join of the undirected edge list
    against the (node, label) vector and two partial-aggregated
    groupBys ((node, label) weight sums, then per-node argmax via
    max(struct)) — the same rank-vector join shape as :func:`pagerank`,
    checkpointed per round, each superseded round released.
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    spark = edges.sparkSession
    w = F.col(weight).cast("double") if weight else F.lit(1.0)
    e0 = edges.select(
        F.col(src).cast("long").alias("_s"), F.col(dst).cast("long").alias("_d"),
        w.alias("_w"),
    ).filter(F.col("_s").isNotNull() & F.col("_d").isNotNull())
    # pre-hash-partition the undirected edges on the join key (_d) so
    # a planner that can reuse checkpointed partitioning ships the big
    # side once, not once per round. (Local A/B at sf0.1 measured this
    # neutral — per-round job overhead dominates there — but on a real
    # cluster the avoided exchange is the edge list itself.)
    n_part = spark.sparkContext.defaultParallelism
    und = checkpoint(
        e0.unionByName(
            e0.select(F.col("_d").alias("_s"), F.col("_s").alias("_d"), "_w")
        ).repartition(n_part, F.col("_d"))
    )
    nodes = checkpoint(und.select(F.col("_s").alias("node")).distinct())
    # the initial label vector is a pure projection of the checkpointed
    # node table — round 1 reads those blocks either way, so its former
    # eager checkpoint job is gone (round 15)
    lab = nodes.select("node", F.col("node").alias("label"))
    for _ in range(iterations):
        incident = (
            und.join(lab.select(F.col("node").alias("_d"), "label"), "_d")
            .groupBy(F.col("_s").alias("node"), "label")
            .agg(F.sum("_w").alias("_wt"))
        )
        # argmax weight, min label tie-break: labels are non-negative
        # longs, so max(struct(weight, -label)) picks exactly that.
        # `best` covers EVERY node by construction — und is symmetric,
        # so every node has >= 1 incident edge whose endpoint carries a
        # label (lab spans all nodes) — which makes the former
        # lab.join(best, "left") + coalesce a row-for-row no-op: the
        # "isolated-in-round keeps its label" clause can only bind for
        # nodes outside the edge list, and those never enter `nodes`.
        # Dropping the join removes one equi-join and the second `lab`
        # consumer per round (round 14; results pinned identical by
        # the LPA oracle gates and tests).
        nxt = checkpoint(
            incident.groupBy("node")
            .agg(F.max(F.struct(F.col("_wt"), (-F.col("label")).alias("_nl"))).alias("_b"))
            .select("node", (-F.col("_b._nl")).alias("label"))
        )
        release(lab)
        lab = nxt
    release(und, nodes)
    return lab


def triangle_count(
    pairs: DataFrame,
    a_col: str = "src",
    b_col: str = "dst",
) -> DataFrame:
    """Per-node triangle counts over an undirected graph.

    Node-iterator with degree ordering (Suri & Vassilvitskii,
    "Counting Triangles and the Curse of the Last Reducer", WWW 2011):
    orient every undirected edge from its lower-(degree, id) endpoint
    to its higher one, join oriented edges on the middle node to form
    wedges, then semi-join the wedge's (lo, hi) closure edge. Each
    triangle materializes exactly once — at its lowest-degree corner —
    so a celebrity node with degree d contributes O(d) oriented
    OUT-edges instead of O(d^2) wedges: the degree orientation is what
    makes the wedge join survive power-law skew at corpus scale.

    Plan: one dedup aggregate (canonical edges), one degree aggregate
    (broadcast back onto the edge list — 2 rows per edge), two
    equi-joins, one count aggregate. All shuffles are on node ids; no
    driver state.

    Returns (node, triangles) for every node in >= 1 triangle.
    """
    edges = _canonical_edges(pairs, a_col, b_col)
    deg = (
        _symmetric(edges)
        .groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # orient: lower (deg, id) -> higher (deg, id); ties impossible on
    # id so the orientation is total and acyclic
    e = (
        edges.join(deg.withColumnsRenamed({"node": "src", "deg": "ds"}), "src")
        .join(deg.withColumnsRenamed({"node": "dst", "deg": "dd"}), "dst")
        .select(
            F.when(
                (F.col("ds") < F.col("dd"))
                | ((F.col("ds") == F.col("dd")) & (F.col("src") < F.col("dst"))),
                F.struct(F.col("src").alias("u"), F.col("dst").alias("v")),
            )
            .otherwise(F.struct(F.col("dst").alias("u"), F.col("src").alias("v")))
            .alias("e")
        )
        .select("e.u", "e.v")
    )
    # materialize the oriented edge list ONCE: three plan branches
    # consume it (wedge left side, wedge right side, closure semi-join)
    # and each would otherwise re-run the whole scan → canonical-edge
    # distinct → degree aggregate → two orientation joins subtree —
    # measured 345 physical operators / 31 exchanges at sf0.1 before,
    # ~40 operators / 8 exchanges after (plans/r14/triangle_count_*).
    # The checkpointed table is exactly the (u, v) longs the wedge join
    # shuffles anyway; retention follows the minhash_near_duplicates
    # convention (the returned plan reads them; the caller's scope
    # releases them).
    e = checkpoint(e)
    wedges = (
        e.alias("e1")
        .join(e.alias("e2"), F.col("e1.v") == F.col("e2.u"))
        .select(
            F.col("e1.u").alias("a"),
            F.col("e1.v").alias("b"),
            F.col("e2.v").alias("c"),
        )
    )
    tri = wedges.join(
        e.select(F.col("u").alias("a"), F.col("v").alias("c")),
        ["a", "c"],
        "left_semi",
    )
    corners = tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
    return corners.groupBy("node").agg(F.count(F.lit(1)).alias("triangles"))


def k_core(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 30,
) -> DataFrame:
    """k-core decomposition by iterative peeling (Seidman 1983): the
    maximal subgraph in which every node has degree >= k. The graph
    QA primitive for near-dup pair graphs and interaction graphs —
    the k-core is what remains after pruning the low-degree fringe
    that chains everything to everything (hub false positives live in
    high cores; noise lives outside them).

    ``edges`` is an undirected edge list (one row per edge, either
    orientation; self-loops and duplicate orientations are removed
    here). Returns ``(node, degree)`` — the surviving nodes with
    their degree INSIDE the core.

    Peeling is a monotone fixpoint: each round drops nodes whose
    current degree < k, which can cascade, so rounds repeat until no
    node drops (bounded by ``max_rounds``; raises if not converged —
    an unconverged core is not a core). Synchronous rounds make the
    result schedule-independent and oracle-replayable as chained SQL
    rounds: extra rounds past convergence are no-ops, so an oracle
    may unroll any count >= the rounds actually needed.

    Scale shape — DELTA peeling: the checkpointed edge list stays
    fixed while the cumulative REMOVED-node set (tiny after the first
    cascade: peel drops shrink geometrically) rides each round as a
    broadcast anti-join, so a round costs one map-side pass over the
    edges plus one map-combined degree aggregate whose 1-row
    reduction doubles as the fixpoint test. Only when the removed set
    outgrows the broadcast budget (>= ``fold_fraction`` of the
    initial nodes) is it folded into a rebuilt, re-checkpointed edge
    list — the rewrite is amortized over many rounds instead of paid
    on every 1-node tail drop. No global sort, no driver-side graph
    state; driver scalars are the two per-round counts.
    """
    spark = edges.sparkSession
    fold_fraction = 0.2
    can = _canonical_edges(edges, src, dst)
    # Bounded driver-side peel (round 15) — the CC hybrid-tail gate: the
    # k-core is the unique maximal subgraph with min-degree >= k,
    # independent of peeling order/synchrony, and the degrees are
    # integers — so a vectorized numpy peel over the collected
    # canonical edges returns BIT-identical rows to the distributed
    # rounds while replacing ~3 driver-synchronized jobs per cascade
    # round with ONE collect.
    pdf = fits_driver(can, SMALL_GRAPH_EDGES)
    if pdf is not None:
        import numpy as np
        import pandas as pd

        e_src = pdf["src"].to_numpy()
        e_dst = pdf["dst"].to_numpy()
        nodes, inv = np.unique(
            np.concatenate([e_src, e_dst]), return_inverse=True
        )
        si, di = inv[: len(e_src)], inv[len(e_src):]
        alive = np.ones(len(nodes), dtype=bool)
        e_alive = np.ones(len(e_src), dtype=bool)
        deg = np.bincount(si, minlength=len(nodes)) + np.bincount(
            di, minlength=len(nodes)
        )
        while True:
            drop = alive & (deg < k)
            if not drop.any():
                break
            alive &= ~drop
            e_alive &= alive[si] & alive[di]
            deg = np.bincount(si[e_alive], minlength=len(nodes)) + np.bincount(
                di[e_alive], minlength=len(nodes)
            )
        out = pd.DataFrame(
            {"node": nodes[alive], "degree": deg[alive]}
        ).astype({"node": "int64", "degree": "int64"})
        return spark.createDataFrame(out, "node long, degree long")
    cur = checkpoint(_symmetric(can))
    n0 = None
    removed = None
    for _ in range(max_rounds):
        alive = cur
        if removed is not None:
            alive = cur.join(
                F.broadcast(removed.withColumnRenamed("node", "src")),
                "src", "left_anti",
            ).join(
                F.broadcast(removed.withColumnRenamed("node", "dst")),
                "dst", "left_anti",
            )
        deg = checkpoint(
            alive.groupBy(F.col("src").alias("node")).agg(
                F.count(F.lit(1)).alias("degree")
            )
        )
        row = deg.agg(
            F.count(F.lit(1)).alias("t"),
            F.coalesce(
                F.sum((F.col("degree") >= k).cast("int")), F.lit(0)
            ).alias("s"),
        ).first()
        if n0 is None:
            n0 = row["t"]
        if row["s"] == row["t"]:
            # fixpoint: every surviving node already has degree >= k.
            # deg is checkpointed, so the edge blocks can be released.
            release(cur, removed)
            return deg
        drops = deg.filter(F.col("degree") < k).select("node")
        nxt_removed = checkpoint(
            drops if removed is None else removed.unionByName(drops)
        )
        release(removed, deg)
        removed = nxt_removed
        if n0 and (n0 - row["s"]) >= fold_fraction * n0:
            # removed set too big to keep broadcasting: fold it into
            # the edge list once and reset the delta
            folded = checkpoint(
                cur.join(
                    removed.withColumnRenamed("node", "src"),
                    "src", "left_anti",
                ).join(
                    removed.withColumnRenamed("node", "dst"),
                    "dst", "left_anti",
                )
            )
            release(cur, removed)
            cur, removed = folded, None
            n0 = row["s"]
    raise RuntimeError(
        f"k_core did not converge within {max_rounds} rounds"
    )
