"""Synchronous label propagation (community detection) as supersteps.

Rule (deterministic — north rule requires exact label parity at
convergence): every vertex starts with its own id as label; each round a
vertex adopts the most frequent label among its undirected neighbours,
breaking count-ties toward the SMALLEST label; isolated vertices keep
their label. Stops at fixpoint or ``max_iter`` (synchronous LPA can
2-cycle on bipartite structures — the converged flag reports which).

Superstep shape: labels ⋈ sym-edges on ``src`` → ``groupBy(dst).agg(
mode(label, deterministic=True))`` → left join back onto the state. The
deterministic mode is the whole argmax in one aggregate: the most frequent
label, the smallest one on a count tie, for long AND string labels. It
keeps a per-vertex label histogram with map-side partials, so the
superstep's one Exchange is the ``dst`` shuffle of those partials; the
state side stays co-partitioned with the symmetrized edge cache.
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


def superstep_labels(state: DataFrame, sym: DataFrame) -> DataFrame:
    """One LPA superstep over the ``(id, label)`` state and the symmetrized
    edge cache: ``(id, label, _changed)``, each vertex's label replaced by
    the most frequent one among its neighbours (the smallest on a tie)."""
    nbr_best = (
        state.join(sym.hint("merge"), state.id == sym.src)
        .groupBy(sym.dst.alias("id"))
        .agg(F.mode("label", deterministic=True).alias("best_label"))
    )
    return state.join(nbr_best.hint("merge"), "id", "left").select(
        "id",
        F.coalesce("best_label", "label").alias("label"),
        (F.coalesce("best_label", "label") != F.col("label")).alias("_changed"),
    )


def label_propagation(
    edges: DataFrame | None = None,
    max_iter: int = 20,
    checkpoint_dir: str | None = None,
    durable_every: int = 5,
    num_partitions: int | None = None,
    prepared: PreparedGraph | None = None,
) -> LPAResult:
    owns_prepared = prepared is None
    if prepared is None:
        if edges is None:
            raise ValueError("pass either edges or prepared")
        prepared = PreparedGraph(edges, num_partitions)

    try:
        res = label_fixpoint(
            prepared, "label_propagation", superstep_labels,
            max_iter, checkpoint_dir, durable_every,
        )
    finally:
        if owns_prepared:
            prepared.unpersist()
    return LPAResult(res.labels, res.iterations, res.converged, res.history)
