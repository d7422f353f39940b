"""PageRank: exact agreement with a numpy power-iteration reference on
a hand-built graph (including a dangling node), mass conservation, and
the k-NN composition at sf0.001."""

import numpy as np
import pytest

from basenine_spark.ops import graph

SF = "/root/testdata/sf0.001"

EDGES = [(0, 1), (0, 2), (1, 2), (2, 0), (3, 2), (2, 4)]  # 4 is dangling


def _numpy_pagerank(edges, n, damping=0.85, iters=10):
    deg = np.zeros(n)
    for s, _ in edges:
        deg[s] += 1
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        contrib = np.zeros(n)
        for s, d in edges:
            contrib[d] += r[s] / deg[s]
        dangling = r[deg == 0].sum()
        r = (1 - damping) / n + damping * dangling / n + damping * contrib
    return r


def test_matches_numpy_reference(spark):
    edf = spark.createDataFrame(EDGES, "src long, dst long")
    got = {r["node"]: r["rank"] for r in graph.pagerank(edf, iters=10).collect()}
    ref = _numpy_pagerank(EDGES, 5, iters=10)
    assert set(got) == set(range(5))
    for node in range(5):
        assert got[node] == pytest.approx(round(float(ref[node]), 6), abs=2e-6)


def test_mass_conserved(spark):
    edf = spark.createDataFrame(EDGES, "src long, dst long")
    total = sum(r["rank"] for r in graph.pagerank(edf, iters=10).collect())
    assert total == pytest.approx(1.0, abs=1e-4)


def test_hub_outranks_leaves(spark):
    # star: everyone points at node 0
    star = [(i, 0) for i in range(1, 8)]
    edf = spark.createDataFrame(star, "src long, dst long")
    got = {r["node"]: r["rank"] for r in graph.pagerank(edf, iters=10).collect()}
    assert got[0] > max(v for k, v in got.items() if k != 0)


def test_knn_composition_coverage(spark):
    rows = graph.knn_pagerank(spark, SF, k=5, iters=3, tables=24, bits=5).collect()
    total = sum(r["rank"] for r in rows)
    assert total == pytest.approx(1.0, abs=1e-3)
    assert len(rows) > 400  # nearly every vector participates
    assert len({r["node"] for r in rows}) == len(rows)


@pytest.mark.parametrize("iters", [1, 3])
def test_plan_sink_captures_an_iteration_plan(spark, iters):
    # iters == 1 has only iteration 0: its plan is the one captured
    edf = spark.createDataFrame(EDGES, "src long, dst long")
    sink: dict = {}
    graph.pagerank(edf, iters=iters, plan_sink=sink).collect()
    assert "Physical Plan" in sink.get("iteration", "")
