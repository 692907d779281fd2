import random

import pytest

from citation_graph_spark import datagen
from citation_graph_spark.operators.components import connected_components
from citation_graph_spark.operators.label_propagation import label_propagation
from citation_graph_spark.operators.triangles import (
    triangle_count,
    triangle_counts_per_vertex,
)
from tests.oracles import (
    connected_components_oracle,
    label_propagation_oracle,
    triangle_count_oracle,
)


def _edge_list(df):
    return [(r["src"], r["dst"]) for r in df.select("src", "dst").collect()]


def _labels(df):
    return {r["id"]: r["label"] for r in df.collect()}


# -------------------- connected components --------------------


def test_cc_two_cliques_bridged(spark):
    edges = datagen.two_cliques_edges(spark, k=5, bridge=True)
    res = connected_components(edges)
    labels = _labels(res.labels)
    assert res.converged
    assert set(labels.values()) == {0}  # single component, min id 0


def test_cc_two_cliques_split(spark):
    edges = datagen.two_cliques_edges(spark, k=5, bridge=False)
    res = connected_components(edges)
    labels = _labels(res.labels)
    assert set(labels.values()) == {0, 5}
    assert all(lbl == (0 if v < 5 else 5) for v, lbl in labels.items())


def test_cc_zipf_matches_oracle(spark):
    edges = datagen.zipf_edges(spark, n_vertices=300, n_edges=500, seed=5).cache()
    exp = connected_components_oracle(_edge_list(edges))
    got = _labels(connected_components(edges).labels)
    assert got == exp


# -------------------- label propagation --------------------


def test_lpa_two_cliques(spark):
    edges = datagen.two_cliques_edges(spark, k=6, bridge=True)
    res = label_propagation(edges, max_iter=20)
    exp, _ = label_propagation_oracle(_edge_list(edges), max_iter=20)
    assert _labels(res.labels) == exp


def test_lpa_zipf_matches_oracle(spark):
    edges = datagen.zipf_edges(spark, n_vertices=120, n_edges=400, seed=9).cache()
    exp, _ = label_propagation_oracle(_edge_list(edges), max_iter=8)
    res = label_propagation(edges, max_iter=8)
    assert _labels(res.labels) == exp


def _tie_graphs(n_graphs=12, seed=2024):
    """Disjoint union of small seeded random graphs (5-40 vertices each,
    with multi-edges and self-loops). In superstep 1 every neighbour label
    is distinct, so each vertex of degree >= 2 breaks a count tie; later
    supersteps tie often too on graphs this small."""
    rng = random.Random(seed)
    pairs = []
    for g in range(n_graphs):
        n = rng.randint(5, 40)
        local = [(rng.randrange(n), rng.randrange(n)) for _ in range(rng.randint(n, 2 * n))]
        local += rng.sample(local, len(local) // 4)  # multi-edges
        local += [(v, v) for v in rng.sample(range(n), 2)]  # self-loops
        pairs += [(100 * g + s, 100 * g + d) for s, d in local]
    return pairs


@pytest.mark.parametrize("id_type", ["long", "string"])
def test_lpa_count_ties_take_the_smallest_label(spark, id_type):
    """LPA's tie rule against the oracle: the most frequent neighbour label,
    the smallest one on a count tie, in long order and in string order
    (``"1005" < "999"``). Each component of the union is one seeded graph."""
    pairs = _tie_graphs()
    if id_type == "string":
        pairs = [(str(s), str(d)) for s, d in pairs]
    edges = spark.createDataFrame(pairs, f"src {id_type}, dst {id_type}")
    exp, _ = label_propagation_oracle(pairs, max_iter=6)
    res = label_propagation(edges, max_iter=6)
    assert _labels(res.labels) == exp


# -------------------- triangles --------------------


def test_triangles_clique(spark):
    # K5 has C(5,3) = 10 triangles; two K5s + bridge = 20.
    edges = datagen.two_cliques_edges(spark, k=5, bridge=True)
    assert triangle_count(edges) == 20


def test_triangles_cycle_none(spark):
    edges = datagen.cycle_edges(spark, 10)
    assert triangle_count(edges) == 0


def test_triangles_zipf_matches_oracle(spark):
    edges = datagen.zipf_edges(spark, n_vertices=80, n_edges=600, seed=13).cache()
    exp = triangle_count_oracle(_edge_list(edges))
    assert triangle_count(edges) == exp


def test_triangles_per_vertex_clique(spark):
    edges = datagen.two_cliques_edges(spark, k=4, bridge=False)
    per_v = {r["id"]: r["triangles"] for r in triangle_counts_per_vertex(edges).collect()}
    # every vertex of a K4 is in C(3,2)=3 triangles
    assert per_v == {v: 3 for v in range(8)}


def test_local_clustering_coefficient(spark):
    import math

    from citation_graph_spark.operators.triangles import (
        local_clustering_coefficient,
    )
    from tests.oracles import lcc_oracle

    edges = datagen.zipf_edges(spark, n_vertices=120, n_edges=800, seed=23).cache()
    elist = [(r["src"], r["dst"]) for r in edges.select("src", "dst").collect()]
    got = {
        r["id"]: (r["triangles"], r["degree"], r["lcc"])
        for r in local_clustering_coefficient(edges).collect()
    }
    exp = lcc_oracle(elist)
    assert set(got) == set(exp)
    for v in exp:
        assert got[v][0] == exp[v][0], v
        assert got[v][1] == exp[v][1], v
        assert math.isclose(got[v][2], exp[v][2], rel_tol=1e-12), v
