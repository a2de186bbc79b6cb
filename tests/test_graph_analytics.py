"""Graph analytics (operators/graph_analytics.py) vs independent
in-test reference implementations: numpy dense power iteration for
PageRank, dict-queue BFS for k_hop, brute-force adjacency-set scan
for triangles. (The driver rows' oracles are DuckDB's own power
iteration / recursive CTE / join SQL, so each operator ends up
anchored by three engines.)
"""

import numpy as np
import pandas as pd
import pytest
from conftest import _persistent_rdds

from serimi_rdf_interlinking_spark.operators.graph_analytics import (
    k_hop,
    pagerank,
    sssp,
    triangle_count,
)
from serimi_rdf_interlinking_spark.session import Checkpoints


def _rand_edges(seed: int, n_nodes: int = 60, n_edges: int = 240):
    rng = np.random.default_rng(seed)
    e = rng.integers(0, n_nodes, size=(n_edges, 2))
    e = e[e[:, 0] != e[:, 1]]
    return pd.DataFrame({"src": e[:, 0], "dst": e[:, 1]}).drop_duplicates()


def _np_pagerank(edges: pd.DataFrame, iterations: int, d: float = 0.85):
    nodes = sorted(set(edges["src"]) | set(edges["dst"]))
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    outdeg = edges.groupby("src").size()
    r = np.full(n, 1.0 / n)
    for _ in range(iterations):
        nxt = np.zeros(n)
        for s, t in edges.itertuples(index=False):
            nxt[idx[t]] += r[idx[s]] / outdeg[s]
        dangling = sum(r[idx[v]] for v in nodes if v not in outdeg.index)
        r = (1 - d) / n + d * (nxt + dangling / n)
    return {v: r[idx[v]] for v in nodes}


@pytest.mark.parametrize("seed", [1, 9])
def test_pagerank_matches_numpy(spark, seed):
    epd = _rand_edges(seed)
    out = pagerank(
        spark.createDataFrame(epd), iterations=4
    ).toPandas().set_index("node")["rank"]
    exp = _np_pagerank(epd, iterations=4)
    assert set(out.index) == set(exp)
    for v, r in exp.items():
        assert out[v] == pytest.approx(r, rel=1e-9)


def test_pagerank_mass_conserved(spark):
    epd = _rand_edges(3)
    out = pagerank(spark.createDataFrame(epd), iterations=3).toPandas()
    assert out["rank"].sum() == pytest.approx(1.0, abs=1e-9)
    assert (out["rank"] > 0).all()


def _py_bfs(edges: pd.DataFrame, seeds, k: int):
    adj: dict = {}
    for s, t in edges.itertuples(index=False):
        adj.setdefault(s, set()).add(t)
    dist = {s: 0 for s in seeds}
    frontier = set(seeds)
    for depth in range(1, k + 1):
        nxt = set()
        for u in frontier:
            for v in adj.get(u, ()):
                if v not in dist:
                    dist[v] = depth
                    nxt.add(v)
        frontier = nxt
    return dist


@pytest.mark.parametrize("seed,k", [(2, 2), (7, 3)])
def test_k_hop_matches_bfs(spark, seed, k):
    epd = _rand_edges(seed)
    seeds = [0, 1]
    out = k_hop(
        spark.createDataFrame(epd),
        spark.createDataFrame(pd.DataFrame({"node": seeds})),
        k=k,
    ).toPandas()
    exp = _py_bfs(epd, seeds, k)
    got = dict(zip(out["node"], out["dist"]))
    assert got == exp


def test_k_hop_early_exit_on_empty_frontier(spark):
    # isolated seed: frontier empties after round 1 regardless of k
    epd = pd.DataFrame({"src": [10, 11], "dst": [11, 12]})
    out = k_hop(
        spark.createDataFrame(epd),
        spark.createDataFrame(pd.DataFrame({"node": [99]})),
        k=5,
    ).toPandas()
    assert dict(zip(out["node"], out["dist"])) == {99: 0}


def _py_bellman_ford(edges: pd.DataFrame, seeds, rounds: int):
    """Full (unpruned) relaxation — the textbook form, so it also
    validates that the operator's frontier pruning changes nothing."""
    dist = {s: 0 for s in seeds}
    for _ in range(rounds):
        cur = dict(dist)
        for s, t, w in edges.itertuples(index=False):
            if s in cur and cur[s] + w < dist.get(t, float("inf")):
                dist[t] = cur[s] + w
    return dist


@pytest.mark.parametrize("seed,rounds", [(6, 2), (11, 4)])
def test_sssp_matches_bellman_ford(spark, seed, rounds):
    epd = _rand_edges(seed)
    rng = np.random.default_rng(seed + 100)
    epd = epd.assign(w=rng.integers(1, 10, len(epd)))
    seeds = [0, 1]
    out = sssp(
        spark.createDataFrame(epd),
        spark.createDataFrame(pd.DataFrame({"node": seeds})),
        rounds=rounds,
    ).toPandas()
    got = dict(zip(out["node"], out["dist"]))
    assert got == _py_bellman_ford(epd, seeds, rounds)


def test_sssp_parallel_edges_take_min_weight(spark):
    epd = pd.DataFrame({"src": [1, 1], "dst": [2, 2], "w": [9, 3]})
    out = sssp(
        spark.createDataFrame(epd),
        spark.createDataFrame(pd.DataFrame({"node": [1]})),
        rounds=1,
    ).toPandas()
    assert dict(zip(out["node"], out["dist"])) == {1: 0, 2: 3}


@pytest.mark.parametrize("op", ["pagerank", "k_hop", "sssp"])
def test_iterative_operator_keeps_only_its_result(spark, monkeypatch, op):
    """The operator releases every per-round checkpoint except the one
    its result reads, and that one still serves the reference values.
    A run that raises part way releases every checkpoint it made."""
    epd = _rand_edges(8, n_edges=60)
    epd = epd.assign(w=np.random.default_rng(108).integers(1, 10, len(epd)))
    unweighted = epd[["src", "dst"]]
    edges = spark.createDataFrame(epd)
    seeds = spark.createDataFrame(pd.DataFrame({"node": [0, 1]}))
    run, col, expected = {
        "pagerank": (lambda: pagerank(edges, iterations=5), "rank",
                     lambda: _np_pagerank(unweighted, iterations=5)),
        "k_hop": (lambda: k_hop(edges, seeds, k=3), "dist",
                  lambda: _py_bfs(unweighted, [0, 1], 3)),
        "sssp": (lambda: sssp(edges, seeds, rounds=4), "dist",
                 lambda: _py_bellman_ford(epd, [0, 1], 4)),
    }[op]
    before = _persistent_rdds(spark)
    out = run()
    assert len(_persistent_rdds(spark) - before) == 1
    got = out.toPandas()
    assert dict(zip(got["node"], got[col])) == pytest.approx(expected(), rel=1e-9)

    checkpoint = Checkpoints.__call__
    calls = []

    def third_call_raises(self, df):
        calls.append(df)
        if len(calls) == 3:
            raise RuntimeError("third checkpoint failed")
        return checkpoint(self, df)

    monkeypatch.setattr(Checkpoints, "__call__", third_call_raises)
    before = _persistent_rdds(spark)
    with pytest.raises(RuntimeError, match="third checkpoint failed"):
        run()
    assert _persistent_rdds(spark) - before == set()


def _brute_triangles(edges: pd.DataFrame):
    und = set()
    for s, t in edges.itertuples(index=False):
        if s != t:
            und.add((min(s, t), max(s, t)))
    adj: dict = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    counts: dict = {}
    for a, b in und:
        for c in adj[a] & adj[b]:
            if c > b:  # a < b < c, each triangle once
                for v in (a, b, c):
                    counts[v] = counts.get(v, 0) + 1
    return counts


@pytest.mark.parametrize("seed", [4, 13])
def test_triangle_count_matches_brute_force(spark, seed):
    epd = _rand_edges(seed, n_nodes=40, n_edges=300)
    out = triangle_count(spark.createDataFrame(epd)).toPandas()
    got = dict(zip(out["node"], out["triangles"]))
    assert got == _brute_triangles(epd)


def test_triangle_count_no_cartesian_plan(spark):
    """The wedge join and the closing semi-join must both be equi
    (hash/merge) joins — a cartesian or BNLJ here is the quadratic
    hub blowup the degree orientation exists to prevent."""
    epd = _rand_edges(5)
    df = triangle_count(spark.createDataFrame(epd))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
