"""Weighted single-source shortest paths — frontier Bellman-Ford
supersteps, batched across a root set.

The classic distributed SSSP: state is the best-known distance per
(root, vertex); each superstep relaxes only edges out of vertices whose
distance IMPROVED last round (the frontier — the standard work-efficient
refinement of Bellman-Ford; with unit weights it degenerates to BFS).
Non-negative weights assumed (documented; negative-cycle detection is a
``max_rounds`` disclosure, not a crash).

Like every iterative operator in this engine (see
``operators/superstep.py``): the relax join is a plain equi-join of the
frontier against the edge table (SMJ/shuffle-hash, AQE skew-split for hub
vertices), the min-merge is a map-side-partial groupBy, and the improved
rows of a round are checkpointed by the job that also observes
their count (the convergence test) — no scalar action of its own. State
is split settled/active (r06): only the IMPROVED rows materialize each
round; the full |roots|x|V| merge runs only when an update is
state-sized (early flood-fill rounds) or at compaction. Integer weights
stay integer-exact end to end (``long`` distances — no float
accumulation), which is what lets the driver cell hash-match a SQL
replay bit for bit.

The reference engine has no weighted-path analog (its traversal is
unweighted depth expansion, ``src/citation_graph/traverser.py:132-145``);
this documents its own contract.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Sequence

from pyspark.sql import DataFrame, functions as F

from citation_graph_spark.operators.superstep import local_checkpoint, release
from citation_graph_spark.session import partition_count


@dataclass
class SsspResult:
    distances: DataFrame  # (root, id, dist)
    rounds: int
    converged: bool
    history: list[dict[str, Any]]


def sssp(
    edges: DataFrame,
    roots: Sequence[int] | DataFrame,
    weight_col: str = "weight",
    max_rounds: int = 30,
) -> SsspResult:
    """Batched multi-root SSSP (see module doc).

    ``edges``: (src, dst, <weight_col>) — parallel edges are fine (the
    min-merge keeps the cheapest); self-loops never improve a distance.
    ``roots``: ids (list or single-column DataFrame). Returns distances
    for every (root, reachable vertex); unreachable vertices are absent
    (the sparse contract — at web scale a dense |roots|·|V| output is the
    caller's explicit choice to materialize).
    """
    spark = edges.sparkSession
    # the engine's standard superstep layout: weight-deduped edges hash-
    # partitioned on the join key and sorted within partitions, persisted
    # once — every round's frontier SMJ re-sorts only the (small) frontier
    # side; the merge hint keeps AQE from flipping to a per-round broadcast
    num_partitions = partition_count(edges.sparkSession)
    e = (
        edges.select(
            "src", "dst", F.col(weight_col).cast("long").alias("w")
        )
        .where(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.min("w").alias("w"))
        .repartition(num_partitions, "src")
        .sortWithinPartitions("src")
        .persist()
    )
    e.count()
    if isinstance(roots, DataFrame):
        # dedup: a duplicated root id would emit duplicate (root, id)
        # distance rows (ADVICE r05)
        root_df = roots.select(F.col(roots.columns[0]).alias("root")).distinct()
    else:
        root_df = spark.createDataFrame(
            [(int(r),) for r in sorted(set(int(r) for r in roots))], "root long"
        )

    INF = F.lit(2**62)

    def full_merge(a: DataFrame, b: DataFrame) -> DataFrame:
        """min-merge two (root, id, dist) frames (full outer, least)."""
        bb = b.select("root", "id", F.col("dist").alias("_bdist"))
        return a.join(bb, ["root", "id"], "full_outer").select(
            "root",
            "id",
            F.least(
                F.coalesce("dist", INF), F.coalesce("_bdist", INF)
            ).alias("dist"),
        )

    state0 = root_df.select(
        "root", F.col("root").alias("id"), F.lit(0).cast("long").alias("dist")
    )
    history: list[dict[str, Any]] = []
    rounds, converged = 0, False

    # Settled/active state split (r06; VERDICT r05 "What's wrong" #3).
    # ``base`` holds settled best-known distances, hash-partitioned on
    # (root, id) and persisted; ``delta`` holds the (strictly better)
    # improvements found since the last compaction, kept as a separate
    # small checkpointed frame. Each round compares candidates against
    # base+delta with two LEFT joins and materializes ONLY the improved
    # rows — the previous implementation full-outer-merged and rewrote
    # all |roots|x|V| state rows every round (the disclosed 12.8M-row
    # rewrite, BENCH.md r05). When a round improves a large fraction
    # (the early flood-fill rounds, or delta outgrowing base/2) the
    # improvements are folded straight into a new base — identical work
    # to the old per-round merge, now paid only when the update really
    # is state-sized.
    base: DataFrame | None = None
    base_rows = 0
    delta: DataFrame | None = None
    old_delta: DataFrame | None = None
    frontier: DataFrame | None = None

    def set_base(df: DataFrame) -> DataFrame:
        nonlocal base, base_rows
        prev = base
        base = (
            df.repartition(num_partitions, "root", "id")
            .sortWithinPartitions("root", "id")
            .persist()
        )
        base_rows = base.count()
        if prev is not None:
            release(prev)
        return base

    def swap_delta(df: DataFrame | None) -> None:
        nonlocal delta, old_delta
        if old_delta is not None:
            release(old_delta)
        old_delta = delta
        delta = df

    try:
        set_base(state0)
        frontier, _ = local_checkpoint(state0)
        for r in range(1, max_rounds + 1):
            cand = (
                frontier.join(e.hint("merge"), frontier["id"] == e["src"])
                .groupBy("root", F.col("dst").alias("vid"))
                .agg(F.min(F.col("dist") + F.col("w")).alias("cand_dist"))
                .withColumnRenamed("vid", "id")
            )
            cmp = cand
            if delta is not None:
                cmp = cmp.join(
                    delta.select("root", "id", F.col("dist").alias("_ddist")),
                    ["root", "id"],
                    "left",
                )
            else:
                cmp = cmp.withColumn("_ddist", F.lit(None).cast("long"))
            imp = (
                cmp.join(
                    base.select("root", "id", F.col("dist").alias("_bdist")),
                    ["root", "id"],
                    "left",
                )
                .where(
                    F.col("cand_dist")
                    < F.least(
                        F.coalesce("_ddist", INF), F.coalesce("_bdist", INF)
                    )
                )
                .select("root", "id", F.col("cand_dist").alias("dist"))
            )
            imp, seen = local_checkpoint(imp, improved=F.count(F.lit(1)))
            release(frontier)
            frontier = imp
            n_improved = seen["improved"]
            rounds = r
            metrics: dict[str, Any] = {"iteration": r, "improved": n_improved}
            history.append(metrics)
            if n_improved == 0:
                converged = True
                break
            if delta is None and n_improved * 2 > base_rows:
                # state-sized update: fold straight into a fresh base
                set_base(full_merge(base, imp))
                metrics["compacted"] = True
            else:
                # delta is its own checkpoint copy, never an alias of the
                # frontier: the frontier is released once the next round's
                # is materialized, while delta may be read for many rounds
                # (and by the final merge). Its exact row count
                # (re-improved (root, id) rows collapse) rides that job.
                merged_delta, seen = local_checkpoint(
                    imp.select("root", "id", "dist")
                    if delta is None
                    else delta.unionByName(imp)
                    .groupBy("root", "id")
                    .agg(F.min("dist").alias("dist")),
                    rows=F.count(F.lit(1)),
                )
                swap_delta(merged_delta)
                if seen["rows"] * 2 > base_rows:
                    set_base(full_merge(base, delta))
                    swap_delta(None)
                    metrics["compacted"] = True
        state = base if delta is None else full_merge(base, delta)
        dist_out = state.localCheckpoint(eager=True)
        return SsspResult(
            distances=dist_out,
            rounds=rounds,
            converged=converged,
            history=history,
        )
    finally:
        for df in (frontier, old_delta, delta, base):
            if df is not None:
                release(df)
        e.unpersist()
