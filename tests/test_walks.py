"""Deterministic random walks vs an exact python replay of the chooser."""

import collections

from citation_graph_spark import datagen
from citation_graph_spark.datagen import _edges_df
from citation_graph_spark.operators.walks import (
    _K1,
    _K2,
    _K3,
    _K4,
    _P,
    random_walks,
)


def _edge_list(df):
    return [(r["src"], r["dst"]) for r in df.select("src", "dst").collect()]


def step_hash(walk, step, dst, seed):
    mult = _K4 + (seed * _K3) % 1_000_000_007
    mix = (dst % _P) * _K1 + (walk % _P) * _K2 + step * _K3
    return ((mix % _P) * mult) % _P


def walks_oracle(edges, starts, walk_length, seed):
    adj = collections.defaultdict(set)
    for s, d in edges:
        if s != d:
            adj[s].add(d)
    corpus = {}
    for w in starts:
        v = w
        corpus[(w, 0)] = v
        for t in range(1, walk_length + 1):
            nbrs = adj.get(v)
            if not nbrs:
                break
            v = min(nbrs, key=lambda u: (step_hash(w, t, u, seed), u))
            corpus[(w, t)] = v
    return corpus


def test_walks_match_python_replay(spark):
    edges = datagen.zipf_edges(spark, n_vertices=200, n_edges=1200, seed=21).cache()
    el = _edge_list(edges)
    starts = sorted({s for s, _ in el})[:20]
    res = random_walks(
        edges, starts=spark.createDataFrame([(s,) for s in starts], "start long"),
        walk_length=6, seed=7,
    )
    got = {(r["walk"], r["step"]): r["id"] for r in res.corpus.collect()}
    assert got == walks_oracle(el, starts, 6, 7)
    assert res.n_walks == 20


def test_walks_stop_at_sinks(spark):
    edges = _edges_df(spark, [(1, 2), (2, 3)])  # 3 is a sink
    res = random_walks(edges, walk_length=10)
    got = {(r["walk"], r["step"]): r["id"] for r in res.corpus.collect()}
    # walk from 1: 1 -> 2 -> 3, stops; walk from 2: 2 -> 3, stops
    assert got == {(1, 0): 1, (1, 1): 2, (1, 2): 3, (2, 0): 2, (2, 1): 3}


def test_walks_deterministic_across_partitionings(spark):
    edges = datagen.zipf_edges(spark, n_vertices=150, n_edges=900, seed=3).cache()
    a = random_walks(edges, walk_length=4, seed=1)
    b = random_walks(edges.repartition(7), walk_length=4, seed=1)
    assert sorted(map(tuple, a.corpus.collect())) == sorted(
        map(tuple, b.corpus.collect())
    )
    assert a.history == b.history


def test_walks_seed_changes_corpus(spark):
    edges = datagen.zipf_edges(spark, n_vertices=150, n_edges=900, seed=3).cache()
    a = sorted(map(tuple, random_walks(edges, walk_length=4, seed=1).corpus.collect()))
    b = sorted(map(tuple, random_walks(edges, walk_length=4, seed=2).corpus.collect()))
    assert a != b  # different epochs explore different neighbors


def test_walks_roughly_uniform_choice(spark):
    # a hub with 4 out-neighbors: across many (walk, step) contexts each
    # neighbor should be picked a non-degenerate share of the time
    edges = _edges_df(
        spark,
        [(h, n) for h in range(100) for n in (1001, 1002, 1003, 1004)],
    )
    res = random_walks(edges, walk_length=1, seed=5)
    picks = collections.Counter(
        r["id"] for r in res.corpus.where("step = 1").collect()
    )
    assert set(picks) <= {1001, 1002, 1003, 1004}
    for v, c in picks.items():
        assert 5 <= c <= 60, picks  # ~25 each from 100 walkers
