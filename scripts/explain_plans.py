"""Print the physical plans of the engine's headline operators and assert
the plan properties the scale design depends on:

- parquet scans show PushedFilters + pruned ReadSchema (html never read
  when not needed),
- the PageRank superstep joins are SortMergeJoins that shuffle neither the
  co-partitioned rank state nor the cached edge side (no re-sort either):
  the dst aggregate is the superstep's only Exchange,
- the LPA superstep's argmax is one ``mode`` aggregate: its dst shuffle is
  the superstep's only Exchange,
- the per-src top-k is a single WindowExec, the degree agg is a partial +
  final HashAggregate pair.

Run: python scripts/explain_plans.py  (writes docs/PLANS.md)
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from citation_graph_spark import datagen  # noqa: E402
from citation_graph_spark.edges import cap_out_degree, dedup_edges, out_degrees  # noqa: E402
from citation_graph_spark.session import get_spark  # noqa: E402


def grab(df, mode="formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def main() -> int:
    import tempfile

    spark = get_spark(
        master="local[8]",
        shuffle_partitions=8,
        app_name="plans",
        extra_conf={
            # static conf: must be set at session creation (bucketed section)
            "spark.sql.warehouse.dir": tempfile.mkdtemp(prefix="cgs-plans-wh-")
        },
    )
    sections = []

    # 1. pushdown + pruning on a parquet pages table
    pages_path = "/tmp/cgs_plans_pages"
    datagen.generate_pages(spark, 500, seed=42).write.mode("overwrite").parquet(pages_path)
    pages = spark.read.parquet(pages_path)
    point = pages.where(F.col("url") == datagen.page_url(7)).select("url", "lang")
    plan = grab(point)
    assert "PushedFilters" in plan and "url" in plan, "point-lookup filter not pushed"
    assert "html" not in plan.split("ReadSchema")[1][:200], "html column not pruned"
    sections.append(("Point lookup: filter pushdown + column pruning", plan))

    # 2. degree aggregation: partial + final hash agg
    edges = dedup_edges(datagen.zipf_edges(spark, 10_000, 100_000, seed=42))
    plan = grab(out_degrees(edges))
    assert plan.count("HashAggregate") >= 2, "no partial aggregation"
    sections.append(("Out-degree: two-phase HashAggregate", plan))

    # 3. per-src top-k: single window, no extra shuffle after repartition
    plan = grab(cap_out_degree(edges, 3))
    assert "Window" in plan
    sections.append(("Per-src top-k: Window row_number", plan))

    # 4. pagerank superstep: the checkpointed rank state is co-partitioned with
    # the src-partitioned edge cache, so neither join shuffles the state —
    # the dst aggregate is the only Exchange outside the cache build — and
    # the cached edge side is merge-joined without a re-sort
    from citation_graph_spark.operators.pagerank import superstep_ranks
    from citation_graph_spark.operators.prepared import PreparedGraph
    from citation_graph_spark.operators.superstep import (
        copartitioned_planning,
        local_checkpoint,
        release,
    )

    pg = PreparedGraph(edges)
    state0, _ = local_checkpoint(
        pg.dangling_flagged().select("id", F.lit(1e-4).alias("rank"), "is_dangling"),
        pg.num_partitions,
    )
    # plan the second superstep: its state is the output of a superstep
    state, _ = local_checkpoint(
        superstep_ranks(state0, pg.weighted_edges(0), 0, F.lit(0.0), 0.85),
        pg.num_partitions,
        delta=F.sum("_delta"),
    )
    release(state0)
    step = superstep_ranks(state, pg.weighted_edges(0), 0, F.lit(0.0), 0.85)
    with copartitioned_planning(spark, pg.num_partitions):
        plan = grab(step, "simple")
    assert "SortMergeJoin" in plan, "superstep join is not SMJ"
    tree = plan[: plan.index("InMemoryRelation")]
    assert tree.count("Exchange") == 1 and "Exchange hashpartitioning(dst" in tree, (
        "state side of the superstep is shuffled"
    )
    sections.append(
        ("PageRank superstep: co-partitioned state, SMJ + partial agg, one Exchange", plan)
    )
    release(state)

    # 4b. LPA superstep: the argmax is one mode(label, deterministic=True)
    # aggregate with map-side partials, and the label state is co-partitioned
    # with the symmetrized edge cache — the dst shuffle of the partials is
    # the superstep's only Exchange outside the cache build
    from citation_graph_spark.operators.label_propagation import (
        label_propagation,
        superstep_labels,
    )

    # the state after one superstep, as the loop checkpointed it
    state = label_propagation(prepared=pg, max_iter=1).labels
    with copartitioned_planning(spark, pg.num_partitions):
        plan = grab(superstep_labels(state, pg.symmetrized()), "simple")
    tree = plan[: plan.index("InMemoryRelation")]
    assert tree.count("Exchange") == 1 and "Exchange hashpartitioning(dst" in tree, (
        "LPA superstep shuffles more than the dst aggregate"
    )
    sections.append(
        ("LPA superstep: one mode aggregate, co-partitioned state, one Exchange", plan)
    )
    release(state)
    pg.unpersist()

    w_edges = (
        edges.select("src", "dst", F.lit(0.5).alias("w"))
        .repartition(8, "src")
        .sortWithinPartitions("src")
        .persist()
    )
    w_edges.count()
    ranks = spark.range(10_000).select(F.col("id"), F.lit(1e-4).alias("rank"))

    # 5. bucketed warehouse layout: superstep join reads buckets in place
    from citation_graph_spark.edges import write_bucketed

    spark.sql("DROP TABLE IF EXISTS plans_edges_bkt")
    write_bucketed(edges.limit(50_000), "plans_edges_bkt", buckets=8)
    tbl = spark.table("plans_edges_bkt")
    step_bkt = (
        ranks.join(tbl.hint("merge"), ranks.id == tbl.src)
        .groupBy("dst")
        .agg(F.count("*").alias("d"))
    )
    plan = grab(step_bkt)
    assert "Bucketed: true" in plan, "bucketed scan not used"
    sections.append(("Superstep join against the bucketed table: edge side unshuffled", plan))

    # 6. dense vertex dictionary: distributed two-pass (no SinglePartition)
    from citation_graph_spark.edges import vertex_dictionary

    d = vertex_dictionary(edges.limit(20_000), num_partitions=8)
    plan = grab(d, "simple")
    assert "SinglePartition" not in plan, "dictionary collapsed to one partition"
    sections.append(("Dense vertex dictionary: range-partitioned two-pass", plan))

    # 7. HITS superstep: both halves are merge SMJs against a persisted
    # edge cache in the matching layout — the authority step joins the
    # src-sorted cache, the hub step the dst-sorted cache; neither re-sorts
    # the cached side
    by_src = (
        edges.select(F.col("src").alias("a_src"), F.col("dst").alias("a_dst"))
        .repartition(8, "a_src")
        .sortWithinPartitions("a_src", "a_dst")
        .persist()
    )
    by_dst = (
        edges.select(F.col("src").alias("h_src"), F.col("dst").alias("h_dst"))
        .repartition(8, "h_dst")
        .sortWithinPartitions("h_dst", "h_src")
        .persist()
    )
    by_src.count(), by_dst.count()
    scores = spark.range(10_000).select(
        F.col("id"), F.lit(1e-4).alias("auth"), F.lit(1e-4).alias("hub")
    )
    a_raw = (
        scores.join(by_src.hint("merge"), scores.id == F.col("a_src"))
        .groupBy(F.col("a_dst").alias("id"))
        .agg(F.sum("hub").alias("a_raw"))
    )
    h_raw = (
        a_raw.join(by_dst.hint("merge"), a_raw.id == F.col("h_dst"))
        .groupBy(F.col("h_src").alias("id"))
        .agg(F.sum("a_raw").alias("h_raw"))
    )
    plan = grab(h_raw)
    # formatted mode prints each node twice (tree + details), so counts
    # are per-occurrence, not per-node
    assert plan.count("SortMergeJoin") >= 2, "HITS halves are not both SMJ"
    assert "BroadcastHashJoin" not in plan, "HITS superstep must not broadcast"
    assert plan.count("InMemoryTableScan") >= 2, "HITS edge caches not reused"
    assert plan.count("HashAggregate") >= 4, "HITS aggs not two-phase"
    sections.append(
        ("HITS superstep: dual-layout edge caches, SMJ both halves", plan)
    )

    # 8. k-core peel round: two-phase degree agg + two semi-joins, no
    # broadcast of the (large, first rounds) survivor side forced — AQE
    # picks the strategy from runtime sizes
    from citation_graph_spark.edges import symmetrize

    sym = symmetrize(edges).repartition(8, "src")
    deg = sym.groupBy("src").agg(F.count("*").alias("degree"))
    survivors = deg.where(F.col("degree") >= 3).select(F.col("src").alias("id"))
    peeled = sym.join(survivors, sym.src == survivors.id, "left_semi").join(
        survivors, F.col("dst") == survivors.id, "left_semi"
    )
    plan = grab(peeled)
    assert plan.count("LeftSemi") >= 2, "k-core peel not two semi-joins"
    assert plan.count("HashAggregate") >= 2, "degree agg not two-phase"
    sections.append(("k-core peel round: two-phase degree agg + semi-joins", plan))

    # 9. hyperanf superstep: SMJ against the dst-sorted register-message
    # cache + wide two-phase bit_or agg, zero Python stages
    from citation_graph_spark.operators.neighborhood import _init_register_exprs

    e_bydst = (
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .repartition(8, "dst")
        .sortWithinPartitions("dst")
        .persist()
    )
    e_bydst.count()
    regs = spark.range(10_000).select(F.col("id"), *_init_register_exprs(4, 7))
    step = (
        regs.join(e_bydst.hint("merge"), regs.id == e_bydst.dst)
        .groupBy(e_bydst.src.alias("id"))
        .agg(*[F.bit_or(f"m{i}").alias(f"n_m{i}") for i in range(4)])
    )
    plan = grab(step)
    assert "SortMergeJoin" in plan, "hyperanf superstep join is not SMJ"
    assert plan.count("HashAggregate") >= 2, "bit_or agg not two-phase"
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan
    sections.append(
        ("HyperANF superstep: SMJ + two-phase wide bit_or agg, no Python", plan)
    )

    # 9. walk step: frontier SMJ against the sorted edge cache + two-phase
    # min(struct) aggregation, no Python anywhere
    from citation_graph_spark.operators.walks import _step_hash

    wstate = spark.range(10_000).select(
        F.col("id").alias("walk"), F.col("id")
    )
    wstep = (
        wstate.join(w_edges.hint("merge"), wstate["id"] == w_edges["src"])
        .select(
            "walk",
            F.struct(
                _step_hash(F.col("walk"), 1, F.col("dst"), 0).alias("h"),
                F.col("dst").alias("v"),
            ).alias("hv"),
        )
        .groupBy("walk")
        .agg(F.min("hv").alias("hv"))
    )
    plan = grab(wstep, "simple")
    assert "SortMergeJoin" in plan, "walk step join is not SMJ"
    assert plan.count("HashAggregate") >= 2, "min(struct) agg not two-phase"
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan
    sections.append(
        ("Random-walk step: SMJ + two-phase min(struct) chooser, no Python", plan)
    )

    # 10. sssp relax round: frontier SMJ + two-phase min agg + full-outer
    # key-partitioned merge, no Python
    sstate = spark.range(1000).select(
        F.lit(0).alias("root"), F.col("id"), F.lit(0).cast("long").alias("dist")
    )
    scand = (
        sstate.join(w_edges.hint("merge"), sstate["id"] == w_edges["src"])
        .groupBy("root", F.col("dst").alias("vid"))
        .agg(F.min(F.col("dist") + 1).alias("cand_dist"))
    )
    plan = grab(scand, "simple")
    assert "SortMergeJoin" in plan, "sssp relax join is not SMJ"
    assert plan.count("HashAggregate") >= 2, "relax min agg not two-phase"
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan
    sections.append(
        ("SSSP relax round: SMJ + two-phase min agg, no Python", plan)
    )

    os.makedirs("docs", exist_ok=True)
    with open("docs/PLANS.md", "w", encoding="utf-8") as fh:
        fh.write(
            "# Physical plans of the headline operators\n\n"
            "Generated by `python scripts/explain_plans.py`; the script ASSERTS\n"
            "the properties the scale design depends on (pushdown, pruning,\n"
            "two-phase aggs, no re-sort of the cached edge side).\n"
        )
        for title, plan in sections:
            fh.write(f"\n## {title}\n\n```\n{plan}\n```\n")
    print("docs/PLANS.md written; all plan assertions passed")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
