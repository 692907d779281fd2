"""Plan-property regression tests — the physical-plan invariants the
100 TB design depends on, guarded in the suite (not just the
scripts/explain_plans.py audit):

- parquet point lookups push filters into the scan and prune columns
  (html never read when not selected);
- degree aggregation is a two-phase HashAggregate (map-side partials);
- the PageRank superstep join is a SortMergeJoin whose cached, pre-sorted
  edge side is NOT re-sorted and NOT re-shuffled — only the rank side;
- extraction never shuffles the html payload (explode is map-side).
"""

import io
import json
import os
import re
from contextlib import redirect_stdout

import pyspark.sql.functions as F
import pytest
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

from citation_graph_spark import datagen
from citation_graph_spark.edges import dedup_edges, out_degrees
from citation_graph_spark.operators.betweenness import betweenness
from citation_graph_spark.operators.bfs import bfs_expand
from citation_graph_spark.operators.components import connected_components
from citation_graph_spark.operators.hits import hits
from citation_graph_spark.operators.kcore import k_core
from citation_graph_spark.operators.neighborhood import neighborhood_function_exact
from citation_graph_spark.operators.scc import strongly_connected_components
from citation_graph_spark.operators.sssp import sssp
from citation_graph_spark.operators.walks import random_walks
from citation_graph_spark.sources.checkpoint import CheckpointManager


def _plan(df, mode="formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def _jobs(spark, group, call):
    """``call()``'s result and the number of Spark jobs it ran."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_point_lookup_pushdown_and_pruning(spark, tmp_path):
    path = str(tmp_path / "pages_plan")
    datagen.generate_pages(spark, 100, seed=42).write.parquet(path)
    pages = spark.read.parquet(path)
    q = pages.where(F.col("url") == datagen.page_url(7)).select("url", "lang")
    plan = _plan(q)
    assert "PushedFilters" in plan and "url" in plan
    read_schema = plan.split("ReadSchema")[1][:200]
    assert "html" not in read_schema


def test_degree_agg_two_phase(spark):
    edges = dedup_edges(datagen.zipf_edges(spark, 2_000, 20_000, seed=42))
    plan = _plan(out_degrees(edges))
    assert plan.count("HashAggregate") >= 2


def test_superstep_join_reuses_cached_sorted_edges(spark):
    edges = datagen.zipf_edges(spark, 2_000, 20_000, seed=42)
    w_edges = (
        edges.select("src", "dst", F.lit(0.5).alias("w"))
        .repartition(8, "src")
        .sortWithinPartitions("src")
        .persist()
    )
    try:
        w_edges.count()
        ranks = spark.range(2_000).select(F.col("id"), F.lit(1e-4).alias("rank"))
        step = (
            ranks.join(w_edges.hint("merge"), ranks.id == w_edges.src)
            .groupBy("dst")
            .agg(F.sum(F.col("rank") * F.col("w")).alias("contrib"))
        )
        plan = _plan(step, "simple")
        assert "SortMergeJoin" in plan
        assert "InMemoryTableScan" in plan
        # between the join and the cache scan (everything under
        # InMemoryRelation is just the cache-BUILD plan, not this query):
        # exactly ONE exchange and ONE sort — both on the rank side; the
        # cached edge side is already hash-partitioned and sorted on src
        join_part = plan[plan.index("SortMergeJoin"):plan.index("InMemoryRelation")]
        assert join_part.count("Exchange") == 1, plan
        assert join_part.count(" Sort [") == 1, plan
    finally:
        w_edges.unpersist()


def test_partitioned_pages_prune_directories(spark, tmp_path):
    """Hive-style partition layout: a lang predicate prunes partitions at
    plan time (PartitionFilters), never scanning the other directories —
    the Parquet analog of the Iceberg partition-pruning contract."""
    from citation_graph_spark.sources.pages import read_pages, write_pages

    path = str(tmp_path / "pages_part")
    write_pages(
        datagen.generate_pages(spark, 200, seed=42), path, partition_by=("lang",)
    )
    pages = spark.read.parquet(path)  # schema inferred incl. partition col
    q = pages.where(F.col("lang") == "en").select("url")
    plan = _plan(q)
    assert "PartitionFilters: [isnotnull(lang" in plan, plan
    n_langs = pages.select("lang").distinct().count()
    assert n_langs > 1
    # read_pages falls back to parquet and still sees every partition
    assert read_pages(spark, path).count() == 200


def test_extraction_explode_is_map_side(spark):
    pages = datagen.generate_pages(spark, 50, seed=42)
    from citation_graph_spark.extract import pages_to_raw_edges

    plan = _plan(pages_to_raw_edges(pages))
    # no Exchange anywhere: extraction + posexplode happen where the rows
    # are read; the binary html column never crosses a shuffle
    assert "Exchange" not in plan


def test_hyperanf_superstep_is_jvm_side_single_exchange(spark):
    """One HyperANF superstep: merge join against the dst-sorted register
    cache + bit_or partial agg — no Python (BatchEvalPython/ArrowEval) in
    the plan, and the join side reuses the persisted cache with exactly
    one Exchange+Sort (the state side)."""
    from citation_graph_spark.operators.neighborhood import _init_register_exprs

    edges = datagen.zipf_edges(spark, 2_000, 20_000, seed=42)
    e = (
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .repartition(8, "dst")
        .sortWithinPartitions("dst")
        .persist()
    )
    try:
        e.count()
        state = spark.range(2_000).select(
            F.col("id"), *_init_register_exprs(4, seed=7)
        )
        step = (
            state.join(e.hint("merge"), state.id == e.dst)
            .groupBy(e.src.alias("id"))
            .agg(*[F.bit_or(f"m{i}").alias(f"n_m{i}") for i in range(4)])
        )
        plan = _plan(step, "simple")
        assert "SortMergeJoin" in plan
        assert "InMemoryTableScan" in plan
        assert "BatchEvalPython" not in plan and "ArrowEval" not in plan
        join_part = plan[plan.index("SortMergeJoin"):plan.index("InMemoryRelation")]
        assert join_part.count("Exchange") == 1, plan
        # two-phase (map-side partial) bit_or aggregation
        assert plan.count("HashAggregate") >= 2, plan
    finally:
        e.unpersist()


@pytest.fixture
def checkpoint_plans(monkeypatch):
    """The executed plan of every frame checkpointed while the test runs —
    the plans the operators' checkpoint jobs ran (a result frame's own plan
    is a bare ``Scan ExistingRDD``)."""
    plans = []
    checkpoint = ClassicDataFrame.localCheckpoint

    def spy(self, eager=True, storageLevel=None):
        out = checkpoint(self, eager, storageLevel)
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return out

    monkeypatch.setattr(ClassicDataFrame, "localCheckpoint", spy)
    return plans


def _no_python(plans):
    assert plans
    for plan in plans:
        assert "BatchEvalPython" not in plan and "ArrowEval" not in plan, plan


def test_scc_runs_no_python_stages(spark, checkpoint_plans):
    """The whole SCC loop must stay JVM-side: no row-at-a-time or Arrow
    Python evaluation in any job it checkpoints a frame with (trim passes,
    peels, coloring and marking supersteps, final labels)."""
    edges = datagen.zipf_edges(spark, 500, 1_500, seed=4)
    strongly_connected_components(edges)
    _no_python(checkpoint_plans)


def test_scc_supersteps_shuffle_only_their_messages(spark, checkpoint_plans):
    """Each coloring and marking superstep of scc has exactly one Exchange,
    its messages' shuffle: the colored state is co-partitioned with the edge
    sets from iteration 0 on, and marking groups its messages by vertex
    alone, so the join back onto the state keys on ``id`` (joining on
    ``(id, color)`` shuffles the state there and back again)."""
    strongly_connected_components(datagen.zipf_edges(spark, 300, 3_000, seed=5))
    steps = [p for p in checkpoint_plans if "AS changed#" in p]
    marking = [p for p in steps if "AS marked#" in p]
    coloring = [p for p in steps if "AS marked#" not in p]
    assert marking and coloring
    for plans, key in ((coloring, "dst"), (marking, "src")):
        for plan in plans:
            assert plan.count("Exchange") == 1, plan
            assert f"Exchange hashpartitioning({key}#" in plan, plan


def test_betweenness_stays_jvm_side_two_phase_aggs(spark, checkpoint_plans):
    """The Brandes cells must stay JVM-side end to end (no Python eval in
    any job they checkpoint a frame with) and the sigma/delta groupBys must
    be two-phase HashAggregates (map-side partials) — the properties the
    2·max_d-superstep scale contract depends on."""
    edges = datagen.zipf_edges(spark, 500, 1_500, seed=4)
    betweenness(edges, n_roots=3, max_d=2)
    _no_python(checkpoint_plans)
    for col in ("sigma", "c"):  # forward sigma sums, backward delta sums
        partial, final = (
            re.compile(rf"(?<![A-Za-z])HashAggregate\(keys=\[[^\]]*\], functions=\[{fn}\({col}#")
            for fn in ("partial_sum", "sum")
        )
        assert any(partial.search(p) and final.search(p) for p in checkpoint_plans), col


def test_assortativity_single_pass_exact_moments(spark):
    """Assortativity: one global aggregate over the joined edge frame —
    two-phase (partial + final), no window, no Python, decimal moments."""
    from citation_graph_spark.operators.metrics import degree_assortativity

    edges = datagen.zipf_edges(spark, 500, 1_500, seed=4)
    plan = _plan(degree_assortativity(edges), "simple")
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan
    assert "Window" not in plan
    assert plan.count("HashAggregate") >= 2


def _outside_caches(plan):
    """``plan`` (``explain("simple")`` text) without the cache-build subtree
    under each ``InMemoryRelation``: what the query itself runs."""
    kept, cut = [], None
    for line in plan.splitlines():
        depth = len(line) - len(line.lstrip(" :+-"))
        if cut is not None and depth > cut:
            continue
        cut = depth if "InMemoryRelation" in line else None
        if cut is None:
            kept.append(line)
    return "\n".join(kept)


def _superstep_plan(spark, pg):
    """Plan of one PageRank superstep over ``pg``, with the rank state
    checkpointed (co-partitioned on id) the way the superstep loop does."""
    from citation_graph_spark.operators.pagerank import superstep_ranks
    from citation_graph_spark.operators.superstep import (
        copartitioned_planning,
        local_checkpoint,
        release,
    )

    state0, _ = local_checkpoint(
        pg.dangling_flagged().select("id", F.lit(1.0).alias("rank"), "is_dangling"),
        pg.num_partitions,
    )
    # plan the SECOND superstep: its state is the output of a superstep
    state, _ = local_checkpoint(
        superstep_ranks(state0, pg.weighted_edges(0), 0, F.lit(0.0), 0.85),
        pg.num_partitions,
        delta=F.sum("_delta"),
    )
    release(state0)
    step = superstep_ranks(state, pg.weighted_edges(0), 0, F.lit(0.0), 0.85)
    with copartitioned_planning(spark, pg.num_partitions):
        plan = _plan(step, "simple")
    release(state)
    return plan


def test_pagerank_superstep_state_side_has_no_exchange(spark):
    """The truncated rank state keeps hashpartitioning(id, P) with P the
    PreparedGraph's partition count — here NOT the session's shuffle
    partition count — so neither superstep join shuffles the state: the
    only Exchange outside the edge-cache build is the dst aggregate."""
    from citation_graph_spark.operators.prepared import PreparedGraph

    assert int(spark.conf.get("spark.sql.shuffle.partitions")) != 5
    pg = PreparedGraph(datagen.zipf_edges(spark, 500, 4_000, seed=3), num_partitions=5)
    try:
        plan = _superstep_plan(spark, pg)
        outside_cache = _outside_caches(plan)
        assert outside_cache.count("Exchange") == 1, plan
        assert "Exchange hashpartitioning(dst" in outside_cache, plan
    finally:
        pg.unpersist()


def test_lpa_superstep_has_one_exchange(spark):
    """The LPA argmax is one ``mode(label, deterministic=True)`` aggregate,
    and the state is co-partitioned with the symmetrized edge cache: the
    second superstep's only Exchange outside the cache build is the dst
    shuffle of the aggregate's partials (a count-then-argmax plan shuffles
    the ``(dst, label)`` counts and joins them back on ``(cnt, id)``)."""
    from citation_graph_spark.operators.label_propagation import (
        label_propagation,
        superstep_labels,
    )
    from citation_graph_spark.operators.prepared import PreparedGraph
    from citation_graph_spark.operators.superstep import copartitioned_planning, release

    pg = PreparedGraph(datagen.zipf_edges(spark, 500, 4_000, seed=3), num_partitions=5)
    try:
        # the state after one superstep, as the loop checkpointed it
        state = label_propagation(prepared=pg, max_iter=1).labels
        with copartitioned_planning(spark, pg.num_partitions):
            plan = _plan(superstep_labels(state, pg.symmetrized()), "simple")
        release(state)
        outside_cache = _outside_caches(plan)
        assert outside_cache.count("Exchange") == 1, plan
        assert "Exchange hashpartitioning(dst" in outside_cache, plan
        assert not re.search(r"SortMergeJoin \[[^\]]*cnt", outside_cache), plan
    finally:
        pg.unpersist()


def test_iteration0_label_state_is_partitioned_on_id(spark):
    """Hash-min cc and LPA start with every vertex labelled by its own id.
    The checkpointed iteration-0 state must still report
    ``hashpartitioning(id, P)``, not partitioning on ``label``, or superstep
    1 shuffles the state again on both of its joins."""
    from citation_graph_spark.operators.label_propagation import label_propagation
    from citation_graph_spark.operators.prepared import PreparedGraph
    from citation_graph_spark.operators.superstep import release

    pg = PreparedGraph(datagen.zipf_edges(spark, 300, 3_000, seed=5))
    try:
        for call in (connected_components, label_propagation):
            res = call(prepared=pg, max_iter=0)
            part = res.labels._jdf.queryExecution().executedPlan().outputPartitioning()
            release(res.labels)
            assert res.iterations == 0
            assert part.toString().startswith("hashpartitioning(id#"), (call, part.toString())
            assert part.numPartitions() == pg.num_partitions, (call, part.toString())
    finally:
        pg.unpersist()


def test_bucketed_prepared_graph_partitions_match_buckets(spark):
    """A PreparedGraph over a bucketed edge table takes the bucket count as
    its partition count, so the state co-partitions with the bucketed
    edge cache and the superstep still has one Exchange."""
    from citation_graph_spark.edges import write_bucketed
    from citation_graph_spark.operators.prepared import PreparedGraph

    spark.sql("DROP TABLE IF EXISTS plans_state_bkt")
    write_bucketed(datagen.zipf_edges(spark, 500, 4_000, seed=3), "plans_state_bkt", buckets=4)
    pg = PreparedGraph.from_bucketed_table(spark, "plans_state_bkt")
    try:
        assert pg.num_partitions == 4
        plan = _superstep_plan(spark, pg)
        outside_cache = _outside_caches(plan)
        assert outside_cache.count("Exchange") == 1, plan
    finally:
        pg.unpersist()
        spark.sql("DROP TABLE plans_state_bkt")


def test_pagerank_runs_one_job_per_superstep(spark):
    """Convergence scalars ride the job that checkpoints the state (an
    Observation), so a pagerank call over prebuilt statics runs about one
    Spark job per superstep, not one per shuffle stage plus scalar reads."""
    from citation_graph_spark.operators.pagerank import pagerank
    from citation_graph_spark.operators.prepared import PreparedGraph

    pg = PreparedGraph(datagen.zipf_edges(spark, 300, 3_000, seed=5))
    pg.weighted_edges(0)
    pg.dangling_flagged()
    try:
        res, jobs = _jobs(spark, "pagerank-job-count", lambda: pagerank(prepared=pg, tol=1e-6))
    finally:
        pg.unpersist()
    assert res.converged and res.iterations > 3
    assert jobs <= res.iterations + 4, (jobs, res.iterations)


def test_checkpoint_save_runs_one_job_and_resume_none(spark, tmp_path):
    """A durable save runs only the state's Parquet write: its lineage comes
    from the Parquet footers and its schema from the frame. Finding and
    validating the newest state (``latest``) runs no Spark job at all."""
    ck = CheckpointManager(spark, str(tmp_path / "ck"), args={"algorithm": "t"})
    state = spark.range(200).select("id", (F.col("id") / 200).alias("rank"))
    state = state.repartition(4).localCheckpoint(eager=True)
    for it in range(3):
        _, jobs = _jobs(spark, f"ckpt-save-{it}", lambda: ck.save(state, it, {"delta": 0.5}))
        assert jobs == 1, (it, jobs)
        latest, jobs = _jobs(spark, f"ckpt-latest-{it}", ck.latest)
        assert latest[0] == it and jobs == 0, (it, jobs)


def test_checkpointed_pagerank_writes_each_state_once(spark, tmp_path):
    """With a durable save every superstep, a pagerank call runs one job per
    superstep plus one Parquet write per save: saves re-read nothing, and
    the final state (saved by its superstep) is not written again."""
    from citation_graph_spark.operators.pagerank import pagerank
    from citation_graph_spark.operators.prepared import PreparedGraph

    pg = PreparedGraph(datagen.zipf_edges(spark, 300, 3_000, seed=5))
    pg.weighted_edges(0)
    pg.dangling_flagged()
    ck = str(tmp_path / "ck")
    try:
        res, jobs = _jobs(
            spark, "pagerank-ckpt-job-count",
            lambda: pagerank(prepared=pg, tol=1e-6, checkpoint_dir=ck, durable_every=1),
        )
    finally:
        pg.unpersist()
    saves = sum(1 for name in os.listdir(ck) if name.startswith("iter="))
    assert res.converged and saves == res.iterations + 1
    assert jobs <= res.iterations + saves + 4, (jobs, res.iterations, saves)
    # the final superstep's manifest still records the run as final
    manifest = os.path.join(ck, f"iter={res.iterations}", "_manifest.json")
    with open(manifest, encoding="utf-8") as fh:
        assert json.load(fh)["metrics"]["final"] is True


def _weighted_zipf(spark):
    edges = datagen.zipf_edges(spark, 300, 3_000, seed=5)
    return edges.withColumn("weight", F.abs(F.xxhash64("src", "dst")) % 9 + 1)


# operator -> (call, job bound). The bounds hold for this fixed graph with
# every convergence scalar observed by the job that checkpoints its
# superstep; a scalar action after each checkpoint costs 1-2 more jobs a
# superstep and breaks them. hits keeps one such action, its normalization
# sums; its L1 delta rides the checkpoint job of the normalized state.
_JOB_BOUNDS = {
    "nf_exact": (lambda e: neighborhood_function_exact(e, max_d=4), 18),
    "bfs": (lambda e: bfs_expand(e, root=0, max_depth=8), 40),
    "cc_two_star": (lambda e: connected_components(e, algorithm="two_star"), 26),
    "hits": (lambda e: hits(e, max_iter=6), 30),
    "kcore": (lambda e: k_core(e, k=5), 8),
    "scc": (strongly_connected_components, 19),
    "sssp": (lambda e: sssp(e, roots=[0, 1, 2, 3]), 83),
    "walks": (random_walks, 35),
    "betweenness": (betweenness, 48),
}


@pytest.mark.parametrize("name", sorted(_JOB_BOUNDS))
def test_superstep_scalars_ride_the_checkpoint_job(spark, name):
    """Convergence scalars (new vertices, pointer checksum, edge count,
    changed counts, improved rows, walker and frontier counts) are observed
    by the job that checkpoints the superstep, not read back by a scalar
    action."""
    call, bound = _JOB_BOUNDS[name]
    edges = _weighted_zipf(spark).cache()
    edges.count()
    try:
        _, jobs = _jobs(spark, f"{name}-job-count", lambda: call(edges))
    finally:
        edges.unpersist()
    assert jobs <= bound, (jobs, bound)


def test_release_frees_local_checkpoint_blocks(spark):
    """``release`` frees a localCheckpoint frame's blocks: its checkpointed
    RDD leaves the persistent RDDs (``unpersist`` alone leaves it there)."""
    from citation_graph_spark.operators.superstep import local_checkpoint, release

    jsc = spark.sparkContext._jsc
    df, _ = local_checkpoint(spark.range(100))
    rdd_id = df._jdf.queryExecution().logical().rdd().id()
    assert jsc.getPersistentRDDs().containsKey(rdd_id)
    release(df)
    assert not jsc.getPersistentRDDs().containsKey(rdd_id)


def test_superstep_loop_releases_superseded_states(spark):
    """A superstep loop over prebuilt statics leaves at most one more
    persistent RDD behind — its result; every superseded state is freed."""
    from citation_graph_spark.operators.prepared import PreparedGraph

    pg = PreparedGraph(datagen.zipf_edges(spark, 300, 3_000, seed=5))
    pg.symmetrized()
    pg.dangling_flagged()
    try:
        before = spark.sparkContext._jsc.getPersistentRDDs().size()
        res = connected_components(prepared=pg)
        after = spark.sparkContext._jsc.getPersistentRDDs().size()
    finally:
        pg.unpersist()
    assert res.iterations > 2
    assert after <= before + 1, (before, after)
