"""HITS hubs/authorities vs the pure-python oracle (tests/oracles.py)."""

import math

from citation_graph_spark import datagen
from citation_graph_spark.operators.hits import hits
from tests.oracles import hits_oracle


def _edge_list(df):
    return [(r["src"], r["dst"]) for r in df.select("src", "dst").collect()]


def _scores(res):
    return {r["id"]: (r["auth"], r["hub"]) for r in res.scores.collect()}


def test_star_hits(spark):
    # star: 1..n-1 -> 0. Vertex 0 is the only authority (auth 1), the
    # leaves split hub mass evenly; 0 has hub 0 (no out-edges), leaves
    # have auth 0 (no in-edges).
    edges = datagen.star_edges(spark, 12)
    res = hits(edges, tol=1e-10, max_iter=50)
    got = _scores(res)
    assert res.converged
    assert math.isclose(got[0][0], 1.0, abs_tol=1e-9)
    assert got[0][1] == 0.0
    leaves = [v for v in got if v != 0]
    for v in leaves:
        assert got[v][0] == 0.0
        assert math.isclose(got[v][1], 1.0 / len(leaves), abs_tol=1e-9), v


def test_zipf_matches_oracle_fixed_iters(spark):
    edges = datagen.zipf_edges(spark, n_vertices=150, n_edges=1200, seed=5).cache()
    elist = _edge_list(edges)
    res = hits(edges, tol=0.0, max_iter=5)
    assert res.iterations == 5 and not res.converged
    assert hits(edges, tol=0.0, max_iter=5).history == res.history  # no wall-clock fields
    got = _scores(res)
    exp, _ = hits_oracle(elist, tol=0.0, max_iter=5)
    assert set(got) == set(exp)
    for v in exp:
        assert math.isclose(got[v][0], exp[v][0], abs_tol=1e-9), ("auth", v)
        assert math.isclose(got[v][1], exp[v][1], abs_tol=1e-9), ("hub", v)


def test_zipf_converged_matches_oracle(spark):
    edges = datagen.zipf_edges(spark, n_vertices=100, n_edges=700, seed=9).cache()
    elist = _edge_list(edges)
    res = hits(edges, tol=1e-9, max_iter=200)
    assert res.converged
    got = _scores(res)
    exp, _ = hits_oracle(elist, tol=1e-9, max_iter=200)
    for v in exp:
        assert math.isclose(got[v][0], exp[v][0], abs_tol=1e-7), ("auth", v)
        assert math.isclose(got[v][1], exp[v][1], abs_tol=1e-7), ("hub", v)
    # L1 normalization invariant
    assert math.isclose(sum(a for a, _ in got.values()), 1.0, abs_tol=1e-9)
    assert math.isclose(sum(h for _, h in got.values()), 1.0, abs_tol=1e-9)


def test_checkpoint_resume_parity(spark, tmp_path):
    """A run killed mid-iteration and resumed must land on the identical
    scores/iteration count as an uninterrupted run (same contract as
    pagerank/cc): run 3 iterations with durable checkpointing, then
    resume with a larger budget and compare to a fresh full run."""
    edges = datagen.zipf_edges(spark, n_vertices=80, n_edges=500, seed=3).cache()
    full = hits(edges, tol=0.0, max_iter=6)
    ck = str(tmp_path / "hits_ck")
    hits(edges, tol=0.0, max_iter=3, checkpoint_dir=ck, durable_every=1)
    resumed = hits(edges, tol=0.0, max_iter=6, checkpoint_dir=ck, durable_every=1)
    a, b = _scores(full), _scores(resumed)
    assert set(a) == set(b)
    for v in a:
        assert math.isclose(a[v][0], b[v][0], abs_tol=1e-12), v
        assert math.isclose(a[v][1], b[v][1], abs_tol=1e-12), v


def test_checkpoint_writes_each_state_once(spark, tmp_path, monkeypatch):
    """A run that stops on a ``durable_every`` boundary saves its final state
    once: the final save only rewrites that manifest's metrics."""
    from citation_graph_spark.sources.checkpoint import CheckpointManager

    saved = []
    save = CheckpointManager.save

    def counting_save(self, state, iteration, metrics=None):
        saved.append(iteration)
        return save(self, state, iteration, metrics)

    monkeypatch.setattr(CheckpointManager, "save", counting_save)
    edges = datagen.zipf_edges(spark, n_vertices=80, n_edges=500, seed=3)
    ck = str(tmp_path / "hits_ck")
    res = hits(edges, tol=0.0, max_iter=4, checkpoint_dir=ck, durable_every=2)
    assert res.iterations == 4
    assert saved == [0, 2, 4]
    final = CheckpointManager(spark, ck).latest()
    assert final[0] == 4 and final[2]["metrics"]["final"] is False
