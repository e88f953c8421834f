"""Direct tests for the shared graph kernels in operators/graph.py (the
neighbour sum, the L2 normalise, PageRank with and without a restart
set) and for both branches of dedup.connected_components_adaptive."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from arrow_supercluster_spark.operators import graph
from arrow_supercluster_spark.operators.dedup import connected_components_adaptive

# 1→2, 1→3, 2→3, 3→1, 5→1; node 4 is isolated
_EDGES = [(1, 2), (1, 3), (2, 3), (3, 1), (5, 1)]
_NODES = [1, 2, 3, 4, 5]


def _adjacency(edges, nodes):
    idx = {v: i for i, v in enumerate(nodes)}
    A = np.zeros((len(nodes), len(nodes)))
    for u, v in edges:
        A[idx[u], idx[v]] = 1.0
    return A


def _frames(spark, edges, scores):
    e = spark.createDataFrame(edges, "src long, dst long")
    n = spark.createDataFrame([(v,) for v in _NODES], "node long")
    x = spark.createDataFrame(
        [(v, float(s)) for v, s in zip(_NODES, scores)], "node long, score double"
    )
    return e, n, x


def _by_node(df, col):
    got = {r.node: r[col] for r in df.collect()}
    return np.array([got[v] for v in _NODES])


@pytest.mark.parametrize("edges", [_EDGES, []], ids=["graph", "no-edges"])
@pytest.mark.parametrize(
    "scores", [[0.5, 2.0, -1.0, 7.0, 3.0], [0.0] * 5], ids=["vector", "zero"]
)
def test_neighbour_sum_matches_numpy(spark, edges, scores):
    e, n, x = _frames(spark, edges, scores)
    A = _adjacency(edges, _NODES)
    xs = np.array(scores)
    out = _by_node(graph._neighbour_sum(e, n, x, "src"), "s")
    assert np.array_equal(out, A @ xs)
    inn = _by_node(graph._neighbour_sum(e, n, x, "dst"), "s")
    assert np.array_equal(inn, A.T @ xs)
    # the isolated node sums to 0 either way
    assert out[_NODES.index(4)] == 0.0 and inn[_NODES.index(4)] == 0.0


@pytest.mark.parametrize(
    "scores", [[0.5, 2.0, -1.0, 7.0, 3.0], [0.0] * 5], ids=["vector", "zero"]
)
def test_l2_normalise_matches_numpy(spark, scores):
    sums = spark.createDataFrame(
        [(v, float(s)) for v, s in zip(_NODES, scores)], "node long, s double"
    )
    s = np.array(scores)
    nrm = float(np.sqrt((s * s).sum()))
    want = s / nrm if nrm > 0 else np.zeros_like(s)
    got = _by_node(graph._l2_normalise(sums), "score")
    assert np.allclose(got, want, rtol=0, atol=1e-15)
    rounded = _by_node(graph._l2_normalise(sums, 9), "score")
    want9 = s / round(nrm, 9) if nrm > 0 else np.zeros_like(s)
    assert np.allclose(rounded, want9, rtol=0, atol=1e-9)
    assert all(round(v, 9) == v for v in rounded)


def _pagerank_replay(edges, nodes, iterations, d, seeds=None):
    """Round-for-round NumPy replay of graph.pagerank (9-digit rounds,
    dangling mass dropped, output rounded to 6)."""
    A = _adjacency(edges, nodes)
    deg = A.sum(axis=1)
    P = np.divide(A, deg[:, None], out=np.zeros_like(A), where=deg[:, None] > 0)
    n = len(nodes)
    if seeds is None:
        init = np.full(n, 1.0 / n)
        base = np.full(n, (1.0 - d) / n)
    else:
        mask = np.array([v in seeds for v in nodes])
        init = np.where(mask, 1.0 / len(seeds), 0.0)
        base = np.where(mask, (1.0 - d) * (1.0 / len(seeds)), 0.0)
    r = np.round(init, 9)
    for _ in range(iterations):
        r = np.round(base + d * (P.T @ r), 9)
    return {v: x for v, x in zip(nodes, np.round(r, 6))}


_PR_EDGES = [(1, 2), (1, 3), (2, 3), (3, 1), (4, 3), (3, 5), (6, 5)]
_PR_NODES = [1, 2, 3, 4, 5, 6]  # 5 is dangling, 4 and 6 have no in-links


@pytest.mark.parametrize("seeds", [None, {1, 4}], ids=["uniform", "restart"])
def test_pagerank_matches_numpy_replay(spark, seeds):
    e = spark.createDataFrame(_PR_EDGES, "src long, dst long")
    restart = None if seeds is None else F.col("node").isin(*sorted(seeds))
    got = {
        r.node: r.rank
        for r in graph.pagerank(e, iterations=4, damping=0.85, restart=restart).collect()
    }
    want = _pagerank_replay(_PR_EDGES, _PR_NODES, 4, 0.85, seeds)
    assert set(got) == set(want)
    for v in want:
        assert abs(got[v] - want[v]) <= 1.5e-6, (v, got[v], want[v])
    if seeds is not None:
        # restart mass returns only to the seeds; 6 has no in-link
        assert got[6] == 0.0


def test_pagerank_empty_restart_set_raises(spark):
    e = spark.createDataFrame(_PR_EDGES, "src long, dst long")
    with pytest.raises(ValueError, match="restart set matches no node"):
        graph.pagerank(e, restart=F.col("node") > 100)


def test_connected_components_adaptive_both_branches(spark):
    edges = [
        (1, 2), (2, 3), (3, 4),                        # chain
        (10, 20), (15, 20), (15, 25), (5, 25),         # zig-zag
        (30, 31), (30, 31), (31, 30),                  # duplicate edge
        (40, 41),                                      # isolated pair
    ]
    want = {1: 1, 2: 1, 3: 1, 4: 1,
            5: 5, 10: 5, 15: 5, 20: 5, 25: 5,
            30: 30, 31: 30, 40: 40, 41: 40}
    pairs = spark.createDataFrame(edges, "a_id long, b_id long")
    local = connected_components_adaptive(pairs)
    distributed = connected_components_adaptive(pairs, small_threshold=0)
    for labels in (local, distributed):
        rows = labels.collect()
        assert len(rows) == len(want)
        assert {r.node_id: r.component_id for r in rows} == want
