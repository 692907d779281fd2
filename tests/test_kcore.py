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
