"""Synchronous label propagation (community detection) as supersteps.

Rule (deterministic — north rule requires exact label parity at
convergence): every vertex starts with its own id as label; each round a
vertex adopts the most frequent label among its undirected neighbours,
breaking count-ties toward the SMALLEST label; isolated vertices keep
their label. Stops at fixpoint or ``max_iter`` (synchronous LPA can
2-cycle on bipartite structures — the converged flag reports which).

Superstep shape: labels ⋈ sym-edges on ``src`` → ``groupBy(dst, label).
count()`` → per-dst argmax as two hash aggregations (max count, then min
label among the tied) — no window sort, works for long AND string labels,
and the whole argmax stays JVM-side with map-side partials.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, functions as F

from citation_graph_spark.operators.components import label_fixpoint
from citation_graph_spark.operators.prepared import PreparedGraph


@dataclass
class LPAResult:
    labels: DataFrame  # (id, label)
    iterations: int
    converged: bool
    history: list[dict[str, Any]] = field(default_factory=list)


def label_propagation(
    edges: DataFrame | None = None,
    max_iter: int = 20,
    checkpoint_dir: str | None = None,
    durable_every: int = 5,
    resume: bool = True,
    num_partitions: int | None = None,
    prepared: PreparedGraph | None = None,
) -> LPAResult:
    owns_prepared = prepared is None
    if prepared is None:
        if edges is None:
            raise ValueError("pass either edges or prepared")
        prepared = PreparedGraph(edges, num_partitions)

    def step(state: DataFrame, sym: DataFrame) -> DataFrame:
        # Count neighbour labels per vertex, then a type-agnostic argmax:
        # max count first, smallest label on ties. Two hash aggs (both with
        # map-side partials), no window sort, works for long AND string ids.
        counts = (
            state.join(sym.hint("merge"), state.id == sym.src)
            .groupBy(sym.dst.alias("id"), F.col("label"))
            .agg(F.count("*").alias("cnt"))
        )
        max_cnt = counts.groupBy("id").agg(F.max("cnt").alias("max_cnt"))
        nbr_best = (
            counts.join(max_cnt, "id")
            .where(F.col("cnt") == F.col("max_cnt"))
            .groupBy("id")
            .agg(F.min("label").alias("best_label"))
        )
        return state.join(nbr_best.hint("merge"), "id", "left").select(
            "id",
            F.coalesce("best_label", "label").alias("label"),
            (F.coalesce("best_label", "label") != F.col("label")).alias("_changed"),
        )

    try:
        res = label_fixpoint(
            prepared, "label_propagation", step, max_iter, checkpoint_dir,
            durable_every, resume,
        )
    finally:
        if owns_prepared:
            prepared.unpersist()
    return LPAResult(res.labels, res.iterations, res.converged, res.history)
