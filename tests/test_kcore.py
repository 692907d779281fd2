"""k-core peeling vs the pure-python oracle (tests/oracles.py)."""

import pytest

from citation_graph_spark import datagen
from citation_graph_spark.operators.kcore import k_core
from tests.oracles import kcore_oracle


def _edge_list(df):
    return [(r["src"], r["dst"]) for r in df.select("src", "dst").collect()]


def _core(res):
    return {r["id"]: r["degree"] for r in res.vertices.collect()}


def _df(spark, pairs):
    return spark.createDataFrame(pairs, "src bigint, dst bigint")


def test_triangle_with_pendant_chain(spark):
    # triangle 0-1-2 plus chain 2-3-4: the 2-core is exactly the triangle
    # (peeling 4 drops 3 — the cascade a one-shot degree filter misses).
    edges = _df(spark, [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4)])
    res = k_core(edges, k=2)
    assert res.converged
    assert _core(res) == {0: 2, 1: 2, 2: 2}
    assert k_core(edges, k=2).history == res.history  # no wall-clock fields
    # the one-shot filter would have kept vertex 3 (degree 2 initially):
    # two rounds of peeling were required
    assert res.iterations >= 2


def test_empty_core(spark):
    # a path has no 2-core
    edges = _df(spark, [(0, 1), (1, 2), (2, 3)])
    res = k_core(edges, k=2)
    assert res.converged
    assert _core(res) == {}


def test_peel_history(spark):
    """Each round records the edge count left and the edges it dropped; the
    round that drops none (or leaves none) ends the peel, and an edge set
    that is empty from the start runs no round at all."""
    edges = _df(spark, [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4)])
    res = k_core(edges, k=2)
    assert (res.iterations, res.converged) == (3, True)
    assert res.history == [
        {"iteration": 0, "edges": 10},
        {"iteration": 1, "edges": 8, "dropped_edges": 2},
        {"iteration": 2, "edges": 6, "dropped_edges": 2},
        {"iteration": 3, "edges": 6, "dropped_edges": 0},
    ]
    path = k_core(_df(spark, [(0, 1), (1, 2), (2, 3)]), k=2)
    assert (path.iterations, path.converged) == (2, True)
    assert path.history == [
        {"iteration": 0, "edges": 6},
        {"iteration": 1, "edges": 2, "dropped_edges": 4},
        {"iteration": 2, "edges": 0, "dropped_edges": 2},
    ]
    loop = k_core(_df(spark, [(0, 0)]), k=1)  # the self-loop is dropped
    assert (loop.iterations, loop.converged) == (0, True)
    assert loop.history == [{"iteration": 0, "edges": 0}]
    assert _core(loop) == {}
    capped = k_core(edges, k=2, max_iter=1)
    assert (capped.iterations, capped.converged) == (1, False)


def test_k1_keeps_every_connected_vertex(spark):
    edges = _df(spark, [(0, 1), (2, 3), (3, 3)])  # self-loop dropped
    res = k_core(edges, k=1)
    assert res.converged
    assert _core(res) == {0: 1, 1: 1, 2: 1, 3: 1}


def test_zipf_matches_oracle(spark):
    edges = datagen.zipf_edges(spark, n_vertices=200, n_edges=1500, seed=13).cache()
    elist = _edge_list(edges)
    for k in (2, 3, 5):
        assert _core(k_core(edges, k=k)) == kcore_oracle(elist, k), k


def test_k_must_be_positive(spark):
    edges = _df(spark, [(0, 1)])
    with pytest.raises(ValueError):
        k_core(edges, k=0)
