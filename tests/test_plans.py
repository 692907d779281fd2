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
from contextlib import redirect_stdout

import pyspark.sql.functions as F

from citation_graph_spark import datagen
from citation_graph_spark.edges import dedup_edges, out_degrees


def _plan(df, mode="formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


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


def test_scc_runs_no_python_stages(spark):
    """The whole SCC loop must stay JVM-side: no row-at-a-time or Arrow
    Python evaluation anywhere in the final labels plan."""
    from citation_graph_spark.operators.scc import strongly_connected_components

    edges = datagen.zipf_edges(spark, 500, 1_500, seed=4)
    res = strongly_connected_components(edges)
    plan = _plan(res.labels, "simple")
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan


def test_betweenness_stays_jvm_side_two_phase_aggs(spark):
    """The Brandes cells must stay JVM-side end to end (no Python eval in
    either the scores or the forward-state plan) and the sigma/delta
    groupBys must be two-phase HashAggregates (map-side partials) — the
    properties the 2·max_d-superstep scale contract depends on."""
    from citation_graph_spark.operators.betweenness import betweenness

    edges = datagen.zipf_edges(spark, 500, 1_500, seed=4)
    res = betweenness(edges, n_roots=3, max_d=2)
    for df in (res.scores, res.per_vertex):
        plan = _plan(df, "simple")
        assert "BatchEvalPython" not in plan and "ArrowEval" not in plan


def test_assortativity_single_pass_exact_moments(spark):
    """Assortativity: one global aggregate over the joined edge frame —
    two-phase (partial + final), no window, no Python, decimal moments."""
    from citation_graph_spark.operators.metrics import degree_assortativity

    edges = datagen.zipf_edges(spark, 500, 1_500, seed=4)
    plan = _plan(degree_assortativity(edges), "simple")
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan
    assert "Window" not in plan
    assert plan.count("HashAggregate") >= 2


def _superstep_plan(spark, pg):
    """Plan of one PageRank superstep over ``pg``, with the rank state
    truncated (co-partitioned on id) by the loop's own calls."""
    from citation_graph_spark.operators.pagerank import superstep_ranks
    from citation_graph_spark.operators.superstep import (
        SuperstepContext,
        copartitioned_planning,
    )

    ctx = SuperstepContext(num_partitions=pg.num_partitions)
    state, _ = ctx.truncate(
        pg.dangling_flagged().select("id", F.lit(1.0).alias("rank"), "is_dangling"), 0
    )
    # plan the SECOND superstep: its state is the output of a superstep
    state, _ = ctx.truncate(
        superstep_ranks(state, pg.weighted_edges(0), 0, F.lit(0.0), 0.85),
        1,
        delta=F.sum("_delta"),
    )
    step = superstep_ranks(state, pg.weighted_edges(0), 0, F.lit(0.0), 0.85)
    with copartitioned_planning(spark, pg.num_partitions):
        plan = _plan(step, "simple")
    ctx.cleanup()
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
        outside_cache = plan[: plan.index("InMemoryRelation")]
        assert outside_cache.count("Exchange") == 1, plan
        assert "Exchange hashpartitioning(dst" in outside_cache, plan
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
        outside_cache = plan[: plan.index("InMemoryRelation")]
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
    sc = spark.sparkContext
    sc.setJobGroup("pagerank-job-count", "pagerank job count")
    try:
        res = pagerank(prepared=pg, tol=1e-6)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        pg.unpersist()
    jobs = sc.statusTracker().getJobIdsForGroup("pagerank-job-count")
    assert res.converged and res.iterations > 3
    assert len(jobs) <= res.iterations + 4, (len(jobs), res.iterations)
