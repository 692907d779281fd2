"""Strongly connected components vs the pure-python Tarjan oracle.

The reference's citation graph is directed (``A cites B`` never implies
``B cites A``, ``src/citation_graph/traverser.py:97-117``); SCC is the
directed counterpart of the ``connected_components`` parity suite.
"""

import random

import pytest
from pyspark.sql import functions as F

from citation_graph_spark import datagen
from citation_graph_spark.datagen import _edges_df
from citation_graph_spark.operators.scc import strongly_connected_components
from tests.oracles import scc_oracle


def _edge_list(df):
    return [(r["src"], r["dst"]) for r in df.select("src", "dst").collect()]


def _labels(df):
    return {r["id"]: r["scc"] for r in df.collect()}


def test_scc_cycle_is_one_component(spark):
    res = strongly_connected_components(datagen.cycle_edges(spark, n=8))
    assert res.converged
    assert set(_labels(res.labels).values()) == {0}


def test_scc_dag_is_all_singletons(spark):
    # a chain is a DAG: every vertex its own SCC (trim peels it entirely)
    edges = _edges_df(spark, [(i, i + 1) for i in range(10)])
    res = strongly_connected_components(edges)
    labels = _labels(res.labels)
    assert res.converged
    assert labels == {i: i for i in range(11)}


def test_scc_two_cycles_bridged(spark):
    # 1→2→3→1 (scc {1,2,3}), bridge 3→4, 4→5→4 (scc {4,5}), tail 5→6
    edges = _edges_df(spark, [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 4), (5, 6)])
    res = strongly_connected_components(edges)
    assert res.converged
    assert _labels(res.labels) == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 6}


def test_scc_self_loops_and_isolates(spark):
    # self loop is NOT mutual reachability with anyone else; vertex 9 only
    # appears as a dst (isolate after the 8→9 tendril)
    edges = _edges_df(spark, [(7, 7), (8, 9)])
    res = strongly_connected_components(edges)
    assert _labels(res.labels) == {7: 7, 8: 8, 9: 9}


def _tail_chains(k=8):
    """Top SCC {100, 101} with an in-chain 50→…→57→100 (round 1 trims it
    one edge per pass) and an out-chain 101→20→…→27→{0, 1}: the max color
    101 reaches the chain and the bottom 2-cycle {0, 1}, so round 1 assigns
    only the top SCC, and round 2's trim peels the out-chain one edge per
    pass before it assigns {0, 1}."""
    cin = list(range(50, 50 + k)) + [100]
    cout = [101] + list(range(20, 20 + k)) + [0]
    return (
        [(100, 101), (101, 100), (0, 1), (1, 0)]
        + list(zip(cin, cin[1:]))
        + list(zip(cout, cout[1:]))
    )


def test_scc_random_graphs_match_tarjan(spark):
    graphs = {}
    for seed in (1, 2, 3):
        rng = random.Random(seed)
        n = 120
        graphs[f"seed {seed}"] = sorted(
            {(rng.randrange(n), rng.randrange(n)) for _ in range(420)}
        )
    graphs["tail chains"] = _tail_chains()
    for name, pairs in graphs.items():
        edges = _edges_df(spark, pairs)
        exp = scc_oracle(pairs)
        res = strongly_connected_components(edges)
        assert res.converged, f"{name} did not converge: {res.history}"
        assert _labels(res.labels) == exp, name
    # res is the last graph's, the tail chains': it trims in both rounds
    assert [r["trimmed_edges"] for r in res.history] == [8, 8], res.history


def test_scc_zipf_skewed_matches_tarjan(spark):
    # hub-skewed degrees — the realistic web shape (giant SCC + tendrils)
    edges = datagen.zipf_edges(spark, n_vertices=300, n_edges=900, seed=11).cache()
    exp = scc_oracle(_edge_list(edges))
    res = strongly_connected_components(edges)
    assert res.converged
    assert _labels(res.labels) == exp


def test_scc_labels_are_min_member(spark):
    # canonical label must be the MIN member id (matches CC convention)
    edges = _edges_df(spark, [(5, 3), (3, 5), (9, 5), (5, 9)])  # scc {3,5,9}
    res = strongly_connected_components(edges)
    assert set(_labels(res.labels).values()) == {3}


def test_scc_round_cap_discloses_unconverged(spark):
    # chain of 2-cycles with DESCENDING reachability: {10,11} → {8,9} →
    # ... → {0,1}. The max id 11 reaches everything, so every vertex is
    # colored 11 and round 1's backward mark assigns ONLY {10,11} — the
    # worst case of one SCC peeled per round. A tiny max_rounds must
    # report converged=False yet still label every vertex.
    pairs = []
    for i in range(0, 12, 2):
        pairs += [(i, i + 1), (i + 1, i)]
        if i >= 2:
            pairs.append((i, i - 1))
    edges = _edges_df(spark, pairs)
    res = strongly_connected_components(edges, max_rounds=1)
    labels = _labels(res.labels)
    assert not res.converged
    assert len(labels) == 12
    assert labels[10] == 10 and labels[11] == 10  # round 1 got the top SCC
    full = strongly_connected_components(edges)
    assert full.converged
    assert _labels(full.labels) == scc_oracle(pairs)


def test_scc_duplicate_edges_ignored(spark):
    edges = _edges_df(spark, [(1, 2), (1, 2), (2, 1), (2, 1), (2, 3)])
    res = strongly_connected_components(edges)
    assert _labels(res.labels) == {1: 1, 2: 1, 3: 3}


def test_scc_empty_graph(spark):
    from pyspark.sql import functions as F

    edges = _edges_df(spark, [(1, 2)]).where(F.lit(False))
    res = strongly_connected_components(edges)
    assert res.converged
    assert res.labels.count() == 0


@pytest.mark.parametrize(
    "pairs, expected",
    [
        # self-loops only: no round assigns a vertex
        ([("a", "a"), ("b", "b")], {"a": "a", "b": "b"}),
        ([("a", "b"), ("b", "c")], {"a": "a", "b": "b", "c": "c"}),
        ([("a", "b"), ("b", "a"), ("b", "c")], {"a": "a", "b": "a", "c": "c"}),
    ],
    ids=["self_loops_only", "dag", "two_cycle_with_tail"],
)
def test_scc_string_ids(spark, pairs, expected):
    edges = spark.createDataFrame(pairs, "src string, dst string")
    res = strongly_connected_components(edges)
    assert res.converged
    assert _labels(res.labels) == expected == scc_oracle(pairs)
