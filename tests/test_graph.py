"""Integer-exact PageRank: differential vs a pure-Python twin,
repartition invariance, float-PageRank ordering sanity, dangling mass,
validation."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from data_toolz_spark.operators.graph import pagerank


def _ref_pagerank(edges, *, n_iter, dn=85, dd=100, scale=10**9):
    """Pure-Python integer twin of the operator."""
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    n = len(nodes)
    deg: dict = {}
    for u, _ in edges:
        deg[u] = deg.get(u, 0) + 1
    teleport = scale * (dd - dn) // dd
    r = {v: scale for v in nodes}
    for _ in range(n_iter):
        incoming = {v: 0 for v in nodes}
        for u, v in edges:
            incoming[v] += (r[u] * dn) // (dd * deg[u])
        d_share = sum(
            (r[u] * dn) // (dd * n) for u in nodes if u not in deg
        )
        r = {v: teleport + d_share + incoming[v] for v in nodes}
    return r


def _rand_edges(seed, n_nodes=40, n_edges=120):
    rng = random.Random(seed)
    edges = [
        (rng.randrange(n_nodes), rng.randrange(n_nodes))
        for _ in range(n_edges)
    ]
    edges.append((0, 0))            # self-loop
    edges.append(edges[0])          # parallel duplicate
    # make node n_nodes-1 dangling: appears only as a destination
    edges = [(u, v) for u, v in edges if u != n_nodes - 1]
    edges.append((1, n_nodes - 1))
    return edges


def test_matches_python_reference(spark):
    edges = _rand_edges(5)
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: r["rank"] for r in pagerank(df, n_iter=6).collect()
    }
    assert got == _ref_pagerank(edges, n_iter=6)


def test_repartition_invariance(spark):
    edges = _rand_edges(11)
    df = spark.createDataFrame(edges, "src long, dst long")
    a = {
        r["node"]: r["rank"]
        for r in pagerank(df.repartition(1), n_iter=4).collect()
    }
    b = {
        r["node"]: r["rank"]
        for r in pagerank(df.repartition(13), n_iter=4).collect()
    }
    assert a == b


def test_hub_ranks_highest(spark):
    """Star graph into a dangling hub: the hub must dominate, and its
    redistributed dangling mass must lift every leaf above the bare
    teleport floor — float PageRank's ordering survives quantization."""
    edges = [(i, 0) for i in range(1, 20)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: r["rank"] for r in pagerank(df, n_iter=8).collect()
    }
    assert max(got, key=got.get) == 0
    teleport = 10**9 * 15 // 100
    assert all(v > teleport for n, v in got.items() if n != 0)


def test_mass_approximately_conserved(spark):
    edges = _rand_edges(7)
    df = spark.createDataFrame(edges, "src long, dst long")
    got = pagerank(df, n_iter=5).agg(F.sum("rank")).collect()[0][0]
    n = len({u for u, _ in edges} | {v for _, v in edges})
    total = n * 10**9
    # floor leaks only ~1 unit per term per round — stays within 0.1 %
    assert 0.999 * total < got <= total


def test_validation(spark):
    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError, match="n_iter"):
        pagerank(df, n_iter=0)
    with pytest.raises(ValueError, match="damping"):
        pagerank(df, damping_num=100)
    with pytest.raises(ValueError, match="scale"):
        pagerank(df, scale=10)
    bad = spark.createDataFrame(
        [(1, None)], "src long, dst long"
    )
    with pytest.raises(ValueError, match="NULL edge"):
        pagerank(bad)
