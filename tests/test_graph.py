"""PageRank operator (operators/graph.py): hand-checkable fixtures +
an independent NumPy power-iteration replica, and the scale-shape
invariants (repartition-stable, nodes-derivation, dangling leak)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from scrapetition_spark.operators.graph import pagerank


def _numpy_pagerank(n, edges, damping=0.85, n_iter=10):
    """Independent row-at-a-time replica of the leaky-mass fixed-
    iteration formulation (NOT the Spark code) over the nodes
    0..n-1: rank' = (1-d)/n + d * sum(rank/outdeg over in-edges).
    Out-degree counts every edge; an endpoint >= n is not a node, so
    it holds no rank and a contribution to it is dropped."""
    m = max([n, *(max(e) + 1 for e in edges)])
    outdeg = np.zeros(m)
    for s, _ in edges:
        outdeg[s] += 1
    r = np.zeros(m)
    r[:n] = 1.0 / n
    for _ in range(n_iter):
        nxt = np.zeros(m)
        nxt[:n] = (1.0 - damping) / n
        for s, d in edges:
            if d < n:
                nxt[d] += damping * r[s] / outdeg[s]
        r = nxt
    return r[:n]


def _run(spark, n, edges, **kw):
    e = spark.createDataFrame(edges, "src long, dst long")
    nodes = spark.createDataFrame([(i,) for i in range(n)], "node long")
    rows = pagerank(e, nodes=nodes, **kw).collect()
    return {r["node"]: r["nrank"] for r in rows}


def test_cycle_is_uniform(spark):
    # 3-cycle: the stationary (and every-iteration) rank is uniform.
    got = _run(spark, 3, [(0, 1), (1, 2), (2, 0)])
    assert got == {0: 1.0, 1: 1.0, 2: 1.0}


def test_star_matches_numpy_replica(spark):
    # hub-and-spoke with a backlink: 1→0, 2→0, 3→0, 0→1.
    edges = [(1, 0), (2, 0), (3, 0), (0, 1)]
    exp = _numpy_pagerank(4, edges)
    got = _run(spark, 4, edges)
    for i in range(4):
        assert got[i] == pytest.approx(round(exp[i] * 4, 6), abs=1e-6)
    # the no-in-edge spokes tie at the damped base and everyone with
    # in-links beats them (the star is near-bipartite, so 0 vs 1
    # oscillates at a fixed iteration count — the replica, not an
    # ordering intuition, is the ground truth)
    assert got[2] == got[3]
    assert min(got[0], got[1]) > got[2]


def test_dangling_mass_leaks(spark):
    # 0→1, 1 has no out-edges: the leaky formulation loses 1's damped
    # mass each round, so total rank < n. NumPy replica agrees exactly.
    edges = [(0, 1)]
    exp = _numpy_pagerank(2, edges)
    got = _run(spark, 2, edges)
    assert sum(got.values()) < 2.0
    for i in range(2):
        assert got[i] == pytest.approx(round(exp[i] * 2, 6), abs=1e-6)


def test_parallel_edges_and_self_loops(spark):
    # 0→1 twice + 0→0 self-loop: outdeg(0)=3, 1 gets 2/3 of 0's rank,
    # 0 keeps 1/3 of its own. Replica is the ground truth.
    edges = [(0, 1), (0, 1), (0, 0), (1, 0)]
    exp = _numpy_pagerank(2, edges)
    got = _run(spark, 2, edges)
    for i in range(2):
        assert got[i] == pytest.approx(round(exp[i] * 2, 6), abs=1e-6)


def test_edges_outside_nodes_match_numpy_replica(spark):
    # nodes are 0..4; 5 and 6 are not. 1→5 counts in 1's out-degree,
    # but its share lands nowhere; 6→0 has no rank to pass; 4's only
    # in-edge comes from 5, so 4 keeps just the damped base.
    edges = [(0, 1), (1, 2), (1, 5), (2, 0), (3, 0), (6, 0), (5, 4), (4, 3)]
    exp = _numpy_pagerank(5, edges)
    got = _run(spark, 5, edges)
    assert set(got) == set(range(5))
    for i in range(5):
        assert got[i] == pytest.approx(round(exp[i] * 5, 6), abs=1e-6)
    assert got[4] == pytest.approx(0.15, abs=1e-6)


def test_nodes_derived_and_repartition_invariant(spark):
    edges = [(i, (i * 3 + 1) % 7) for i in range(7)] + [(i, (i + 2) % 7) for i in range(7)]
    e = spark.createDataFrame(edges, "src long, dst long")
    base = {r["node"]: r["nrank"] for r in pagerank(e).collect()}
    skewed = {
        r["node"]: r["nrank"]
        for r in pagerank(e.repartition(13, "dst"), partitions=5).collect()
    }
    assert base == skewed
    assert set(base) == set(range(7))


def test_rejects_zero_iterations(spark):
    e = spark.createDataFrame([(0, 1)], "src long, dst long")
    with pytest.raises(ValueError):
        pagerank(e, n_iter=0)


def _r_half_up(x, n):
    """Spark F.round on doubles: shortest-repr + HALF_UP."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(
        Decimal(repr(float(x))).quantize(Decimal(f"1e-{n}"), rounding=ROUND_HALF_UP)
    )


def test_hits_matches_numpy_replica(spark):
    """HITS equals an independent row-at-a-time replica of the
    L1-normalized rounded half-steps on a skewed graph, and the
    known-structure sanity holds: the pure-authority sink has zero
    hub score, the pure hub zero authority."""
    from scrapetition_spark.operators.graph import hits

    # 0,1,2 all point at 3 (authority); 0 also points at 1; 3 points
    # nowhere. Node 4 isolated.
    edges = [(0, 3), (1, 3), (2, 3), (0, 1)]
    n = 5
    hub = {i: 1.0 / n for i in range(n)}
    auth = None
    for _ in range(8):
        raw_a = {i: sum(hub[s] for s, d in edges if d == i) for i in range(n)}
        ta = sum(raw_a.values())
        auth = {i: _r_half_up(raw_a[i] / ta, 6) for i in range(n)}
        raw_h = {i: sum(auth[d] for s, d in edges if s == i) for i in range(n)}
        th = sum(raw_h.values())
        hub = {i: _r_half_up(raw_h[i] / th, 6) for i in range(n)}

    e = spark.createDataFrame(edges, "src long, dst long")
    nodes = spark.createDataFrame([(i,) for i in range(n)], "node long")
    got = {r["node"]: (r["hub"], r["authority"]) for r in hits(e, nodes=nodes).collect()}
    assert got == {i: (hub[i], auth[i]) for i in range(n)}
    assert got[3][0] == 0.0 and got[3][1] > 0.5
    assert got[4] == (0.0, 0.0)
    assert got[0][0] > got[1][0] > 0  # 0 links to both targets


def test_hits_rejects_zero_iterations(spark):
    from scrapetition_spark.operators.graph import hits

    e = spark.createDataFrame([(0, 1)], "src long, dst long")
    with pytest.raises(ValueError):
        hits(e, n_iter=0)


def test_hits_edgeless_graph_is_all_zero(spark):
    """A node set with no usable edges yields all-zero scores, not a
    null-poisoned division by the zero normalizer."""
    from scrapetition_spark.operators.graph import hits

    e = spark.createDataFrame([], "src long, dst long")
    nodes = spark.createDataFrame([(0,), (1,)], "node long")
    got = {r["node"]: (r["hub"], r["authority"]) for r in hits(e, nodes=nodes).collect()}
    assert got == {0: (0.0, 0.0), 1: (0.0, 0.0)}
