"""Kill/resume semantics (SURVEY.md §5.4): a run killed after iteration k,
resumed from checkpoint, must equal the uninterrupted run exactly."""

import math
import os
import shutil

import pytest

from citation_graph_spark import datagen
from citation_graph_spark.operators.bfs import bfs_expand
from citation_graph_spark.operators.components import connected_components
from citation_graph_spark.operators.hits import hits
from citation_graph_spark.operators.label_propagation import label_propagation
from citation_graph_spark.operators.pagerank import pagerank, personalized_pagerank
from citation_graph_spark.sources.checkpoint import CheckpointManager
from tests.oracles import connected_components_oracle


def _ranks(res):
    return {r["id"]: r["rank"] for r in res.ranks.collect()}


def test_pagerank_kill_resume_exact(spark, tmp_path):
    edges = datagen.zipf_edges(spark, 150, 900, seed=17).cache()
    ck = str(tmp_path / "ck")

    full = pagerank(edges, tol=1e-7, checkpoint_dir=ck, durable_every=2)
    baseline = _ranks(full)
    assert full.converged

    # simulate a kill after iteration 4: drop all later durable state
    for name in os.listdir(ck):
        if name.startswith("iter=") and int(name.split("=")[1]) > 4:
            shutil.rmtree(os.path.join(ck, name))
    resumed = pagerank(edges, tol=1e-7, checkpoint_dir=ck, durable_every=2)
    got = _ranks(resumed)
    assert set(got) == set(baseline)
    for v in baseline:
        assert math.isclose(got[v], baseline[v], abs_tol=1e-12), v


def test_pagerank_resume_converged_is_instant(spark, tmp_path):
    edges = datagen.cycle_edges(spark, 12)
    ck = str(tmp_path / "ck2")
    first = pagerank(edges, tol=1e-8, checkpoint_dir=ck)
    again = pagerank(edges, tol=1e-8, checkpoint_dir=ck)
    assert again.converged
    assert again.history == []  # no supersteps re-run
    assert _ranks(again) == _ranks(first)


def test_pagerank_resume_rejects_mismatched_args(spark, tmp_path):
    """A checkpoint written under different hyperparameters must not blend
    into a new run: different alpha → warn, start fresh, exact fresh result."""
    edges = datagen.zipf_edges(spark, 120, 700, seed=23).cache()
    ck = str(tmp_path / "ck_mismatch")
    pagerank(edges, alpha=0.85, tol=1e-6, checkpoint_dir=ck, durable_every=2)

    fresh = pagerank(edges, alpha=0.5, tol=1e-6)  # no checkpoint: ground truth
    with pytest.warns(RuntimeWarning, match="different .*args"):
        resumed = pagerank(edges, alpha=0.5, tol=1e-6, checkpoint_dir=ck, durable_every=2)
    exp, got = _ranks(fresh), _ranks(resumed)
    assert set(got) == set(exp)
    for v in exp:
        assert math.isclose(got[v], exp[v], abs_tol=1e-12), v
    # the fresh restart pruned the dead timeline: no stale iterations above
    # the new run's final durable state
    mgr = CheckpointManager(spark, ck)
    assert max(mgr.iterations()) <= resumed.iterations


def _with_sinks(spark, seed):
    """A power-law graph plus edges into out-degree-0 sinks, so PageRank
    has dangling mass to carry between supersteps and across a resume."""
    from pyspark.sql import functions as F

    base = datagen.zipf_edges(spark, 150, 900, seed=seed).select("src", "dst")
    sinks = spark.range(40).select(
        (F.col("id") * 3).alias("src"), (F.col("id") + 1000).alias("dst")
    )
    return base.unionByName(sinks).distinct().cache()


def test_pagerank_durable_every_superstep_is_exact(spark, tmp_path):
    """Durable saves keep the loop on the in-memory co-partitioned state:
    saving every superstep gives the same ranks and history, bit for bit,
    as an uncheckpointed run, and a run stopped after 3 supersteps resumes
    to those same ranks."""
    edges = _with_sinks(spark, seed=29)
    plain = pagerank(edges, tol=1e-7)
    assert plain.history[1]["dangling_mass"] > 0
    durable = pagerank(edges, tol=1e-7, checkpoint_dir=str(tmp_path / "a"), durable_every=1)
    assert _ranks(durable) == _ranks(plain)
    assert durable.history == plain.history

    ck = str(tmp_path / "b")
    stopped = pagerank(edges, tol=1e-7, max_iter=3, checkpoint_dir=ck, durable_every=1)
    assert stopped.iterations == 3 and not stopped.converged
    resumed = pagerank(edges, tol=1e-7, checkpoint_dir=ck, durable_every=1)
    assert resumed.history[0]["iteration"] == 4
    assert resumed.history == plain.history[4:]
    assert _ranks(resumed) == _ranks(plain)
    edges.unpersist()


_PORTED = {
    "pagerank": lambda e, ck, s: pagerank(e, tol=1e-6, checkpoint_dir=ck),
    "personalized_pagerank": lambda e, ck, s: personalized_pagerank(
        e, sources=s, tol=1e-6, checkpoint_dir=ck
    ),
    "connected_components": lambda e, ck, s: connected_components(e, checkpoint_dir=ck),
    "label_propagation": lambda e, ck, s: label_propagation(e, max_iter=4, checkpoint_dir=ck),
    "hits": lambda e, ck, s: hits(e, max_iter=3, checkpoint_dir=ck),
    "bfs_expand": lambda e, ck, s: bfs_expand(e, root=0, max_depth=3, checkpoint_dir=ck),
    "cc_two_star": lambda e, ck, s: connected_components(
        e, algorithm="two_star", checkpoint_dir=ck
    ),
}


@pytest.mark.parametrize("name", sorted(_PORTED))
def test_mismatched_checkpoint_warns_and_starts_fresh(spark, tmp_path, name):
    """Every superstep-kernel operator warns on a checkpoint written under
    other args (here: by another algorithm) and starts fresh instead of
    silently discarding it or blending it into its own run."""
    edges = datagen.zipf_edges(spark, 60, 300, seed=3).cache()
    sources = spark.createDataFrame([(0,), (1,)], "id bigint")
    ck = str(tmp_path / "ck")
    other = "connected_components" if name == "label_propagation" else "label_propagation"
    _PORTED[other](edges, ck, sources)
    with pytest.warns(RuntimeWarning, match="different .*args"):
        res = _PORTED[name](edges, ck, sources)
    assert res.history[0]["iteration"] == 0  # fresh run, not a resume
    edges.unpersist()


def test_bfs_resume_continues_deeper(spark, tmp_path):
    edges = spark.createDataFrame(
        [(i, i + 1, 1) for i in range(10)] + [(0, 5, 2)], "src long, dst long, pos int"
    )
    ck = str(tmp_path / "ck_bfs")
    first = bfs_expand(edges, root=0, max_depth=2, checkpoint_dir=ck, durable_every=1)
    assert first.depth_reached == 2

    direct = bfs_expand(edges, root=0, max_depth=5)
    resumed = bfs_expand(edges, root=0, max_depth=5, checkpoint_dir=ck, durable_every=1)
    as_set = lambda r: {(x["id"], x["depth"], x["parent"]) for x in r.visited.collect()}  # noqa: E731
    assert as_set(resumed) == as_set(direct)
    assert resumed.depth_reached == direct.depth_reached
    # only the continuation levels (3..5) ran as supersteps
    assert len(resumed.history) <= 3

    # re-running at the reached depth returns the stored state without a loop
    again = bfs_expand(edges, root=0, max_depth=5, checkpoint_dir=ck, durable_every=1)
    assert as_set(again) == as_set(direct)
    assert again.history == []


def test_bfs_resume_without_level_metric(spark, tmp_path):
    """A bfs manifest need not record ``level`` (a final manifest has never
    carried it): the resumed run takes its depth from the iteration, and
    expanding deeper from it equals an uninterrupted run."""
    import json

    edges = spark.createDataFrame(
        [(i, i + 1, 1) for i in range(10)] + [(0, 5, 2)], "src long, dst long, pos int"
    )
    ck = str(tmp_path / "ck_bfs_nolevel")
    bfs_expand(edges, root=0, max_depth=2, checkpoint_dir=ck, durable_every=1)
    for it in CheckpointManager(spark, ck).iterations():
        mpath = os.path.join(ck, f"iter={it}", "_manifest.json")
        with open(mpath, encoding="utf-8") as fh:
            manifest = json.load(fh)
        manifest["metrics"].pop("level", None)
        with open(mpath, "w", encoding="utf-8") as fh:
            json.dump(manifest, fh)

    direct = bfs_expand(edges, root=0, max_depth=5)
    resumed = bfs_expand(edges, root=0, max_depth=5, checkpoint_dir=ck, durable_every=1)
    as_set = lambda r: {(x["id"], x["depth"], x["parent"]) for x in r.visited.collect()}  # noqa: E731
    assert as_set(resumed) == as_set(direct)
    assert resumed.depth_reached == direct.depth_reached
    assert resumed.history == direct.history[3:]


def test_ppr_checkpoint_fingerprints_any_source_set(spark, tmp_path):
    """The source-set fingerprint in the manifest args is a sum of 64-bit
    hashes: it must not overflow under ANSI mode, and a different source
    set must still be told apart on resume."""
    edges = datagen.zipf_edges(spark, 60, 300, seed=3).cache()
    ck = str(tmp_path / "ck_ppr")
    sources = spark.createDataFrame([(0,), (1,), (7,)], "id bigint")
    first = personalized_pagerank(edges, sources=sources, tol=1e-6, checkpoint_dir=ck)
    again = personalized_pagerank(edges, sources=sources, tol=1e-6, checkpoint_dir=ck)
    assert again.history == [] and _ranks(again) == _ranks(first)
    other = spark.createDataFrame([(0,), (1,)], "id bigint")
    with pytest.warns(RuntimeWarning, match="different .*args"):
        personalized_pagerank(edges, sources=other, tol=1e-6, checkpoint_dir=ck)
    edges.unpersist()


def test_bfs_resume_rejects_other_root(spark, tmp_path):
    edges = spark.createDataFrame(
        [(i, i + 1, 1) for i in range(6)], "src long, dst long, pos int"
    )
    ck = str(tmp_path / "ck_bfs_root")
    bfs_expand(edges, root=0, max_depth=3, checkpoint_dir=ck, durable_every=1)
    fresh = bfs_expand(edges, root=2, max_depth=3)
    with pytest.warns(RuntimeWarning, match="different .*args"):
        other = bfs_expand(edges, root=2, max_depth=3, checkpoint_dir=ck, durable_every=1)
    assert {(x["id"], x["depth"]) for x in other.visited.collect()} == {
        (x["id"], x["depth"]) for x in fresh.visited.collect()
    }


def test_two_star_matches_hash_min(spark):
    edges = datagen.zipf_edges(spark, 250, 400, seed=29).cache()
    elist = [(r["src"], r["dst"]) for r in edges.select("src", "dst").collect()]
    exp = connected_components_oracle(elist)
    hm = connected_components(edges, algorithm="hash_min")
    ts = connected_components(edges, algorithm="two_star")
    got_hm = {r["id"]: r["label"] for r in hm.labels.collect()}
    got_ts = {r["id"]: r["label"] for r in ts.labels.collect()}
    assert got_hm == exp
    assert got_ts == exp


def test_two_star_long_diameter_fewer_rounds(spark):
    # 60-cycle: diameter 30 → hash-min needs ~30 supersteps; two-star O(log n)
    edges = datagen.cycle_edges(spark, 60)
    ts = connected_components(edges, algorithm="two_star", max_iter=15)
    assert ts.converged
    labels = {r["id"]: r["label"] for r in ts.labels.collect()}
    assert set(labels.values()) == {0}
    assert ts.iterations <= 10


def test_two_star_kill_resume_exact(spark, tmp_path):
    """Two-star is the long-diameter O(log n) path — the variant an
    hour-long 100x run uses, so it needs the same kill/resume story as
    hash-min: a run killed after round k and resumed must be byte-identical
    to the uninterrupted run (star rounds are deterministic set
    transforms)."""
    edges = datagen.zipf_edges(spark, 250, 400, seed=31).cache()
    ck = str(tmp_path / "ck_ts")

    full = connected_components(
        edges, algorithm="two_star", checkpoint_dir=ck, durable_every=1
    )
    assert full.converged
    baseline = {r["id"]: r["label"] for r in full.labels.collect()}

    # simulate a kill after round 2: drop all later durable state
    for name in os.listdir(ck):
        if name.startswith("iter=") and int(name.split("=")[1]) > 2:
            shutil.rmtree(os.path.join(ck, name))
    resumed = connected_components(
        edges, algorithm="two_star", checkpoint_dir=ck, durable_every=1
    )
    got = {r["id"]: r["label"] for r in resumed.labels.collect()}
    assert got == baseline
    # the resumed run re-entered mid-iteration, not from round 1
    assert resumed.history and resumed.history[0]["iteration"] == 3


def test_two_star_resume_without_checksum_metric(spark, tmp_path):
    """Resume from a manifest that predates the checksum metric (ADVICE
    r04): the run must recompute the fixpoint baseline from the loaded
    state WITHOUT durably recording it as iteration 0 — that record would
    prune every iteration > 0, deleting the very checkpoint being resumed
    and mislabeling the timeline."""
    import json

    edges = datagen.zipf_edges(spark, 250, 400, seed=31).cache()
    ck = str(tmp_path / "ck_ts_nochk")
    full = connected_components(
        edges, algorithm="two_star", checkpoint_dir=ck, durable_every=1
    )
    baseline = {r["id"]: r["label"] for r in full.labels.collect()}

    # kill after round 2, then strip the checksum/pointer metrics from the
    # surviving manifest (an old-format checkpoint)
    for name in os.listdir(ck):
        if name.startswith("iter=") and int(name.split("=")[1]) > 2:
            shutil.rmtree(os.path.join(ck, name))
    mpath = os.path.join(ck, "iter=2", "_manifest.json")
    with open(mpath, encoding="utf-8") as fh:
        manifest = json.load(fh)
    manifest["metrics"].pop("checksum", None)
    manifest["metrics"].pop("pointers", None)
    with open(mpath, "w", encoding="utf-8") as fh:
        json.dump(manifest, fh)

    resumed = connected_components(
        edges, algorithm="two_star", checkpoint_dir=ck, durable_every=1
    )
    got = {r["id"]: r["label"] for r in resumed.labels.collect()}
    assert got == baseline
    # re-entered at round 3 — never re-recorded the loaded state as iter 0
    assert resumed.history and resumed.history[0]["iteration"] == 3
    mgr = CheckpointManager(spark, ck)
    assert 2 in mgr.iterations()  # the loaded checkpoint survived the resume


def test_two_star_resume_converged_is_instant(spark, tmp_path):
    edges = datagen.cycle_edges(spark, 40)
    ck = str(tmp_path / "ck_ts2")
    first = connected_components(
        edges, algorithm="two_star", checkpoint_dir=ck, durable_every=1
    )
    assert first.converged
    again = connected_components(
        edges, algorithm="two_star", checkpoint_dir=ck, durable_every=1
    )
    assert again.converged
    assert again.history == []  # no star rounds re-run
    assert {r["id"]: r["label"] for r in again.labels.collect()} == {
        r["id"]: r["label"] for r in first.labels.collect()
    }
