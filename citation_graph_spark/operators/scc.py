"""Strongly connected components — trim + coloring supersteps (directed).

The undirected ``connected_components`` operator answers "which pages are
linked at all"; a *directed* web graph also needs "which pages link each
other back" — the giant SCC / bow-tie decomposition of Broder et al.
(the reference's citation graph is directed too: ``A cites B`` never
implies ``B cites A``, ``src/citation_graph/traverser.py:97-117``).

Algorithm: the coloring variant of FW-BW-Trim (Orzan; Slota et al.), the
standard distributed SCC — every phase is the same merge-join +
partial-agg superstep shape as ``_hash_min``:

repeat until no active vertices:
  1. **Trim** (to fixpoint): a vertex with no in-edge or no out-edge in
     the active subgraph lies on no cycle → it is its own singleton SCC.
     One pass = two semi/anti joins against the distinct src / dst
     projections.
  2. **Forward max-coloring** (to fixpoint): ``color(v) = max(id(u) : u
     can reach v)`` via ``color'(v) = max(color(v), max_{(u,v)∈E}
     color(u))`` — hash-min with ``max`` over the directed edges.
  3. **Backward mark within color** (to fixpoint): root ``r`` has
     ``color(r) = r`` (no larger id reaches it, so ``r`` is the largest
     id in its own SCC). ``SCC(r)`` = vertices that reach ``r`` moving
     backward WITHOUT leaving color class ``r``: ``mark(v) ⇐ ∃ (v,u)∈E:
     mark(u) ∧ color(u) = color(v)``, seeded from the roots.
  4. Marked vertices are assigned ``scc = color``; they and their edges
     leave the active subgraph.

Every phase's fixpoint is a driver-side changed-count scalar; state
lineage is truncated per superstep via :class:`SuperstepContext` exactly
like PageRank/CC. The final labels are canonicalized to ``min(id in
SCC)`` (one groupBy) so the convention matches ``connected_components``.

Scale shape: the active edge set shrinks monotonically and is
re-persisted sorted by src AND by dst once per round (coloring joins on
src, backward-marking joins on dst — the same dual-orientation cache HITS
uses); message aggregation is a map-side-partial ``groupBy(...).max()``.
On bow-tie-shaped web graphs the first round's trim peels the IN/OUT
tendrils and the first coloring finds the giant SCC, so the expected
round count is small; a long path-of-cycles graph degrades to many cheap
rounds — ``max_rounds`` caps it and the result reports
``converged=False`` with the residual active count rather than looping
forever.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import reduce
from typing import Any

from pyspark.sql import DataFrame, functions as F

from citation_graph_spark.edges import vertices_of
from citation_graph_spark.operators.superstep import SuperstepContext


@dataclass
class SccResult:
    labels: DataFrame  # (id, scc) — scc = min vertex id in the component
    rounds: int
    converged: bool
    history: list[dict[str, Any]] = field(default_factory=list)


def _persist_sorted(df: DataFrame, key: str, num_partitions: int) -> DataFrame:
    """Repartition+sort a round's active edge set on the join key so every
    fixpoint superstep inside the round runs a merge join that re-sorts
    only the (small) state frame — the CSR-style layout of pagerank.py."""
    out = df.repartition(num_partitions, key).sortWithinPartitions(key).persist()
    out.count()
    return out


def strongly_connected_components(
    edges: DataFrame,
    max_rounds: int = 30,
    max_iter: int = 200,
    num_partitions: int | None = None,
) -> SccResult:
    """Exact SCC labels over a directed ``(src, dst)`` edge DataFrame.

    ``max_rounds`` bounds the outer peel loop, ``max_iter`` bounds each
    inner fixpoint (trim passes / coloring supersteps / marking
    supersteps). Self-loops are irrelevant to mutual reachability and are
    dropped from the traversal (the vertex itself is still labeled).
    """
    spark = edges.sparkSession
    num_partitions = num_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions", "32")
    )
    ctx = SuperstepContext()

    all_vertices = vertices_of(edges)
    active_e = (
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    active_e = _persist_sorted(active_e, "src", num_partitions)

    assigned_parts: list[DataFrame] = []  # (id, scc_root) frames
    history: list[dict[str, Any]] = []
    converged = False
    rounds = 0
    step = 0  # global superstep counter for ctx lineage truncation

    try:
        for rounds in range(1, max_rounds + 1):
            round_metrics: dict[str, Any] = {"round": rounds}

            # --- 1. trim to fixpoint: no in-edge or no out-edge → singleton
            trimmed_total = 0
            for _ in range(max_iter):
                srcs = active_e.select(F.col("src").alias("id")).distinct()
                dsts = active_e.select(F.col("dst").alias("id")).distinct()
                # vertices still carrying edges, flagged by side
                verts = srcs.withColumn("has_out", F.lit(True)).join(
                    dsts.withColumn("has_in", F.lit(True)), "id", "full"
                )
                dead = verts.where(
                    F.col("has_out").isNull() | F.col("has_in").isNull()
                ).select("id", F.col("id").alias("scc"))
                # kept frames live OUTSIDE the ctx truncate chain: ctx
                # unpersists superseded supersteps, and an unpersisted
                # localCheckpoint is not recomputable — eager-checkpoint
                # what outlives the loop (released after the final union)
                dead = dead.localCheckpoint(eager=True)
                n_dead = dead.count()
                if n_dead == 0:
                    dead.unpersist()
                    break
                trimmed_total += n_dead
                assigned_parts.append(dead)
                new_e = active_e.join(
                    dead.select(F.col("id").alias("src")), "src", "anti"
                ).join(dead.select(F.col("id").alias("dst")), "dst", "anti")
                old_e = active_e
                active_e = _persist_sorted(
                    new_e.select("src", "dst"), "src", num_partitions
                )
                old_e.unpersist()
            round_metrics["trimmed"] = trimmed_total

            n_edges = active_e.count()
            round_metrics["active_edges"] = n_edges
            if n_edges == 0:
                history.append(round_metrics)
                converged = True
                break

            # dst-sorted twin for the backward phase (HITS-style dual cache)
            active_e_bydst = _persist_sorted(
                active_e.select("src", "dst"), "dst", num_partitions
            )

            # --- 2. forward max-coloring to fixpoint
            state = (
                active_e.select(F.col("src").alias("id"))
                .union(active_e.select("dst"))
                .distinct()
                .select("id", F.col("id").alias("color"))
            )
            step += 1
            state, _ = ctx.truncate(state, step)
            n_active = state.count()
            ctx.record(state, step)
            round_metrics["active_vertices"] = n_active

            color_iters = 0
            for color_iters in range(1, max_iter + 1):
                nbr_max = (
                    state.join(active_e.hint("merge"), state.id == active_e.src)
                    .groupBy(active_e.dst.alias("id"))
                    .agg(F.max("color").alias("nbr_color"))
                )
                new_state = state.join(nbr_max.hint("merge"), "id", "left").select(
                    "id",
                    F.greatest("color", F.coalesce("nbr_color", "color")).alias(
                        "color"
                    ),
                    (F.col("color") < F.coalesce("nbr_color", "color")).alias(
                        "_changed"
                    ),
                )
                step += 1
                new_state, _ = ctx.truncate(new_state, step)
                changed = new_state.where("_changed").count()
                state = new_state.drop("_changed")
                ctx.record(state, step)
                if changed == 0:
                    break
            round_metrics["color_iters"] = color_iters

            # --- 3. backward mark within color class, seeded at the roots
            state = state.withColumn("marked", F.col("color") == F.col("id"))
            step += 1
            state, _ = ctx.truncate(state, step)
            state.count()
            ctx.record(state, step)

            mark_iters = 0
            for mark_iters in range(1, max_iter + 1):
                # messages flow AGAINST edge direction: a marked u tells
                # every predecessor v (edge v→u) in the same color class
                msgs = (
                    state.where("marked")
                    .join(
                        active_e_bydst.hint("merge"),
                        state.id == active_e_bydst.dst,
                    )
                    .groupBy(
                        active_e_bydst.src.alias("id"),
                        F.col("color").alias("mcolor"),
                    )
                    .agg(F.count(F.lit(1)).alias("_n"))
                    .drop("_n")
                )
                new_state = state.join(
                    msgs.hint("merge"),
                    (state.id == msgs.id) & (state.color == msgs.mcolor),
                    "left",
                ).select(
                    state.id,
                    state.color,
                    (F.col("marked") | msgs.mcolor.isNotNull()).alias("marked"),
                    (~F.col("marked") & msgs.mcolor.isNotNull()).alias("_changed"),
                )
                step += 1
                new_state, _ = ctx.truncate(new_state, step)
                changed = new_state.where("_changed").count()
                state = new_state.drop("_changed")
                ctx.record(state, step)
                if changed == 0:
                    break
            round_metrics["mark_iters"] = mark_iters

            done = state.where("marked").select("id", F.col("color").alias("scc"))
            done = done.localCheckpoint(eager=True)  # outlives the ctx chain
            n_done = done.count()
            round_metrics["assigned"] = n_done
            assigned_parts.append(done)
            history.append(round_metrics)

            remaining = n_active - n_done
            if remaining == 0:
                active_e_bydst.unpersist()
                converged = True
                break

            # --- 4. peel: drop assigned vertices and their edges
            new_e = active_e.join(
                done.select(F.col("id").alias("src")), "src", "anti"
            ).join(done.select(F.col("id").alias("dst")), "dst", "anti")
            old_e = active_e
            active_e = _persist_sorted(
                new_e.select("src", "dst"), "src", num_partitions
            )
            old_e.unpersist()
            active_e_bydst.unpersist()
        else:
            # max_rounds exhausted: label leftovers by themselves, disclose
            leftovers = (
                active_e.select(F.col("src").alias("id"))
                .union(active_e.select("dst"))
                .distinct()
                .select("id", F.col("id").alias("scc"))
            )
            leftovers = leftovers.localCheckpoint(eager=True)
            assigned_parts.append(leftovers)
            history.append({"round": max_rounds, "unconverged_leftovers": True})

        # isolated vertices (self-loop-only or never active) → own SCC
        assigned = (
            reduce(DataFrame.union, assigned_parts)
            if assigned_parts
            else all_vertices.sparkSession.createDataFrame([], "id long, scc long")
        )
        labels = all_vertices.join(assigned, "id", "left").select(
            "id", F.coalesce("scc", "id").alias("scc")
        )
        # canonicalize: scc label = min member id (matches the CC convention
        # and the mutual-reachability SQL oracle)
        min_per = labels.groupBy(F.col("scc").alias("_root")).agg(
            F.min("id").alias("label")
        )
        labels = (
            labels.join(min_per, labels.scc == min_per._root)
            .select("id", F.col("label").alias("scc"))
        )
        # materialize before unpersisting the lineage the join depends on
        labels = labels.localCheckpoint(eager=True)
        for part in assigned_parts:
            try:
                part.unpersist()
            except Exception:
                pass
        return SccResult(labels, rounds, converged, history)
    finally:
        try:
            active_e.unpersist()
        except Exception:
            pass
        ctx.cleanup()
