"""Strongly connected components — trim + coloring supersteps (directed).

The undirected ``connected_components`` operator answers "which pages are
linked at all"; a *directed* web graph also needs "which pages link each
other back" — the giant SCC / bow-tie decomposition of Broder et al.
(the reference's citation graph is directed too: ``A cites B`` never
implies ``B cites A``, ``src/citation_graph/traverser.py:97-117``).

Algorithm: the coloring variant of FW-BW-Trim (Orzan; Slota et al.), the
standard distributed SCC — every phase is the same merge-join +
partial-agg superstep shape as ``_hash_min``:

repeat until no active edges:
  1. **Trim** (to fixpoint): a vertex with no in-edge or no out-edge in
     the active subgraph lies on no cycle, and neither does any of its
     edges. One pass is a two-semi-join peel of the edge set: keep an
     edge iff its src has an in-edge and its dst has an out-edge. The
     trim stops when a pass drops no edge.
  2. **Forward max-coloring** (to fixpoint): ``color(v) = max(id(u) : u
     can reach v)`` via ``color'(v) = max(color(v), max_{(u,v)∈E}
     color(u))`` — hash-min with ``max`` over the directed edges.
  3. **Backward mark within color** (to fixpoint): root ``r`` has
     ``color(r) = r`` (no larger id reaches it, so ``r`` is the largest
     id in its own SCC). ``SCC(r)`` = vertices that reach ``r`` moving
     backward WITHOUT leaving color class ``r``: ``mark(v) ⇐ ∃ (v,u)∈E:
     mark(u) ∧ color(u) = color(v)``, seeded from the roots.
  4. Marked vertices are assigned ``scc = color``; their edges leave the
     active edge set (a two-anti-join peel).

A vertex that no round assigns (trimmed, self-loop-only, or still active
when ``max_rounds`` runs out) is its own SCC: the final
``coalesce("scc", "id")`` labels it with its own id. The labels are then
canonicalized to ``min(id in SCC)`` (one groupBy), the convention of
``connected_components``.

No phase runs a scalar action. Each coloring and marking fixpoint is one
``SuperstepContext.run`` over states co-partitioned on ``id`` with the
edge sets, whose checkpoint job observes the phase's changed count (and
the active / marked vertex counts), like PageRank/CC.
Each active edge set (every trim pass, every peel and the round's
dst-sorted twin) is one ``local_checkpoint`` job planned under
``copartitioned_planning``: it keeps the edges hash-partitioned and
sorted on their join key (src for coloring, dst for backward marking —
the dual-orientation layout HITS uses) and observes their row count. The
superseded edge set is released once its successor is materialized, so
an edge set's plan never reaches back past the previous one. Messages
are aggregated per receiving vertex alone, with map-side partials (the
max color; the set of a predecessor's marked successors' colors), so
each coloring or marking superstep shuffles only its messages.

On bow-tie-shaped web graphs the first round's trim peels the IN/OUT
tendrils and the first coloring finds the giant SCC, so the expected
round count is small; a long path-of-cycles graph degrades to many cheap
rounds — ``max_rounds`` caps it and the result reports
``converged=False`` rather than looping forever.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import reduce
from typing import Any, Callable

from pyspark.sql import Column, DataFrame, functions as F

from citation_graph_spark.edges import vertices_of
from citation_graph_spark.session import partition_count
from citation_graph_spark.operators.superstep import (
    SuperstepContext,
    count_true,
    id_copy,
    local_checkpoint,
    release,
)


@dataclass
class SccResult:
    labels: DataFrame  # (id, scc) — scc = min vertex id in the component
    rounds: int
    converged: bool
    history: list[dict[str, Any]] = field(default_factory=list)


def _checkpoint_edges(df: DataFrame, key: str, num_partitions: int) -> tuple[DataFrame, int]:
    """Materialize an active edge set in one job, hash-partitioned and
    sorted on its join ``key`` so that every merge join against it
    re-sorts only the (small) state side — the CSR-style layout of
    pagerank.py. Returns the checkpoint with its row count."""
    out, seen = local_checkpoint(
        df.select("src", "dst").repartition(num_partitions, key).sortWithinPartitions(key),
        num_partitions,
        key=key,
        n=F.count(F.lit(1)),
    )
    return out, seen["n"]


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
    num_partitions = partition_count(edges.sparkSession, num_partitions)

    def fixpoint(
        init: Callable[[], DataFrame],
        step: Callable[[DataFrame, int, dict[str, Any]], DataFrame],
        **observe: Column,
    ) -> tuple[DataFrame, int, dict[str, Any]]:
        """Run ``step`` from ``init()`` until no vertex changes, the states
        co-partitioned on ``id`` with the edge sets."""
        return SuperstepContext(num_partitions=num_partitions).run(
            None,
            init,
            step,
            max_iter,
            stop=lambda m: m["changed"] == 0,
            observe=observe,
            feed={"changed": count_true("_changed")},
        )

    active_e, n_edges = _checkpoint_edges(
        edges.where(F.col("src") != F.col("dst")).select("src", "dst").distinct(),
        "src",
        num_partitions,
    )
    assigned_parts: list[DataFrame] = []  # (id, scc_root) frames, one per round
    history: list[dict[str, Any]] = []
    converged = False
    rounds = 0

    try:
        for rounds in range(1, max_rounds + 1):
            # --- 1. trim to fixpoint: an edge survives a pass iff its src
            # has an in-edge and its dst has an out-edge
            n_untrimmed = n_edges
            for _ in range(max_iter):
                if n_edges == 0:
                    break
                kept, n_kept = _checkpoint_edges(
                    active_e.join(
                        active_e.select(F.col("dst").alias("src")), "src", "left_semi"
                    ).join(active_e.select(F.col("src").alias("dst")), "dst", "left_semi"),
                    "src",
                    num_partitions,
                )
                release(active_e)
                active_e, n_dropped, n_edges = kept, n_edges - n_kept, n_kept
                if n_dropped == 0:
                    break
            round_metrics: dict[str, Any] = {
                "round": rounds,
                "trimmed_edges": n_untrimmed - n_edges,
                "active_edges": n_edges,
            }
            if n_edges == 0:
                history.append(round_metrics)
                converged = True
                break

            # dst-sorted twin for the backward phase (HITS-style dual layout)
            active_e_bydst, _ = _checkpoint_edges(active_e, "dst", num_partitions)

            # --- 2. forward max-coloring to fixpoint
            def color_init() -> DataFrame:
                return (
                    active_e.select(F.col("src").alias("id"))
                    .union(active_e.select("dst"))
                    .distinct()
                    .select("id", id_copy().alias("color"))
                )

            def color_step(state: DataFrame, it: int, last: dict[str, Any]) -> DataFrame:
                nbr_max = (
                    state.join(active_e.hint("merge"), state.id == active_e.src)
                    .groupBy(active_e.dst.alias("id"))
                    .agg(F.max("color").alias("nbr_color"))
                )
                return state.join(nbr_max.hint("merge"), "id", "left").select(
                    "id",
                    F.greatest("color", F.coalesce("nbr_color", "color")).alias(
                        "color"
                    ),
                    (F.col("color") < F.coalesce("nbr_color", "color")).alias(
                        "_changed"
                    ),
                )

            colored, color_iters, seen = fixpoint(
                color_init, color_step, n=F.count(F.lit(1))
            )
            n_active = seen["n"]
            round_metrics["active_vertices"] = n_active
            round_metrics["color_iters"] = color_iters

            # --- 3. backward mark within color class, seeded at the roots
            def mark_step(state: DataFrame, it: int, last: dict[str, Any]) -> DataFrame:
                # messages flow AGAINST edge direction: a marked u tells
                # every predecessor v (edge v→u) its color; v is marked when
                # one of them is its own. Grouped by v alone, so the join
                # back onto the state keys on id: the messages' shuffle is
                # the superstep's only Exchange
                msgs = (
                    state.where("marked")
                    .join(
                        active_e_bydst.hint("merge"),
                        state.id == active_e_bydst.dst,
                    )
                    .groupBy(active_e_bydst.src.alias("id"))
                    .agg(F.collect_set("color").alias("mcolors"))
                )
                reached = F.coalesce(F.array_contains("mcolors", F.col("color")), F.lit(False))
                return state.join(msgs.hint("merge"), "id", "left").select(
                    "id",
                    "color",
                    (F.col("marked") | reached).alias("marked"),
                    (~F.col("marked") & reached).alias("_changed"),
                )

            marked, mark_iters, seen = fixpoint(
                lambda: colored.withColumn("marked", F.col("color") == F.col("id")),
                mark_step,
                marked=count_true("marked"),
            )
            release(colored)
            release(active_e_bydst)
            round_metrics["mark_iters"] = mark_iters

            done, _ = local_checkpoint(
                marked.where("marked").select("id", F.col("color").alias("scc")),
                num_partitions,
            )
            release(marked)
            n_done = seen["marked"]
            round_metrics["assigned"] = n_done
            assigned_parts.append(done)
            history.append(round_metrics)

            if n_done == n_active:
                converged = True
                break

            # --- 4. peel: drop the assigned vertices' edges
            peeled, n_edges = _checkpoint_edges(
                active_e.join(done.select(F.col("id").alias("src")), "src", "left_anti")
                .join(done.select(F.col("id").alias("dst")), "dst", "left_anti"),
                "src",
                num_partitions,
            )
            release(active_e)
            active_e = peeled

        vertices = vertices_of(edges)
        labels = vertices.select("id", F.col("id").alias("scc"))
        if assigned_parts:
            # a vertex that no round assigned is its own SCC
            labels = vertices.join(
                reduce(DataFrame.union, assigned_parts), "id", "left"
            ).select("id", F.coalesce("scc", "id").alias("scc"))
        # canonicalize: scc label = min member id (matches the CC convention
        # and the mutual-reachability SQL oracle)
        min_per = labels.groupBy(F.col("scc").alias("_root")).agg(
            F.min("id").alias("label")
        )
        labels = (
            labels.join(min_per, labels.scc == min_per._root)
            .select("id", F.col("label").alias("scc"))
        )
        # materialize before releasing the frames the join reads
        labels, _ = local_checkpoint(labels, num_partitions)
        for part in assigned_parts:
            release(part)
        return SccResult(labels, rounds, converged, history)
    finally:
        release(active_e)
