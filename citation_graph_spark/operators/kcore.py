"""k-core extraction (fixed k) by iterative peeling as supersteps.

The k-core of the undirected link graph is the maximal subgraph in which
every vertex has degree ≥ k — the standard "dense citation community"
filter (the reference's ``--minimum-citations`` pruning,
``src/citation_graph/citation_graph.py``, is the one-shot degree filter;
the k-core is its fixpoint: peeling a low-degree vertex can drop a
neighbour below k, so the filter must be iterated to stability).

Algorithm (synchronous peel): start from the symmetrized deduped edge
set; each round compute every vertex's degree within the current edge
set, drop vertices with degree < k, and restrict the edge set to
surviving endpoints. Any vertex the filter drops has 1 ≤ degree < k, so
its edges leave the set — the edge count strictly decreases until the
fixpoint, which makes the per-round edge count the convergence test. Round count is bounded by the peel depth,
small in practice (web/citation graphs: a handful of rounds).

Scale shape per superstep (what runs on 1000 executors):
- ``groupBy(src).count()`` over the current edge set — map-side partial
  aggregation; the symmetrized set carries both directions so one
  aggregation yields undirected degrees.
- two semi-joins (src ∈ survivors, dst ∈ survivors) restrict the edge
  set; survivors shrinks every round and never carries payload columns.
- no scalar action: ``SuperstepContext.run`` checkpoints the new edge
  set and observes its edge count in the same job (under AQE, one
  job per shuffle stage of the superstep plus the checkpoint job).

Durable checkpointing is deliberately omitted: peel states are derived
data recomputable from the edge table, and rounds are seconds even at
scale — the pagerank/cc/lpa loops demonstrate the durable-resume
machinery for the states that need it (sources/checkpoint.py).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, functions as F

from citation_graph_spark.edges import symmetrize
from citation_graph_spark.operators.superstep import SuperstepContext
from citation_graph_spark.session import partition_count


@dataclass
class KCoreResult:
    vertices: DataFrame  # (id, degree) — degree within the k-core subgraph
    iterations: int
    converged: bool
    history: list[dict[str, Any]] = field(default_factory=list)


def k_core(
    edges: DataFrame,
    k: int,
    max_iter: int = 100,
    num_partitions: int | None = None,
) -> KCoreResult:
    """Vertices of the k-core of ``edges``' undirected view, with their
    within-core degrees (distinct neighbours in the core). Empty result
    when the core is empty. ``k ≥ 1``.

    ``converged`` is False only if ``max_iter`` rounds still dropped
    vertices (pathological chain graphs; raise ``max_iter``)."""
    if k < 1:
        raise ValueError("k must be ≥ 1")
    num_partitions = partition_count(edges.sparkSession, num_partitions)
    ctx = SuperstepContext()

    def step(state: DataFrame, it: int, last: dict[str, Any]) -> DataFrame:
        deg = state.groupBy("src").agg(F.count("*").alias("degree"))
        survivors = deg.where(F.col("degree") >= k).select(F.col("src").alias("id"))
        return state.join(survivors, state.src == survivors.id, "left_semi").join(
            survivors, F.col("dst") == survivors.id, "left_semi"
        )

    def metrics(it: int, seen: dict[str, Any], last: dict[str, Any] | None) -> dict[str, Any]:
        if last is None:
            return seen
        return {"edges": seen["edges"], "dropped_edges": last["edges"] - seen["edges"]}

    def peeled(metrics: dict[str, Any]) -> bool:
        return metrics["edges"] == 0 or metrics.get("dropped_edges") == 0

    # both directions present, deduped, self-loops dropped → one
    # groupBy(src) == undirected degree
    state, it, last = ctx.run(
        None,
        lambda: symmetrize(edges).repartition(num_partitions, "src"),
        step,
        max_iter,
        metrics,
        stop=peeled,
        observe={"edges": F.count(F.lit(1))},
    )
    # within-core degrees off the fixpoint edge set (every vertex left in
    # it has degree ≥ k by construction; empty set → empty core)
    result = state.groupBy("src").agg(F.count("*").alias("degree")).select(
        F.col("src").alias("id"), "degree"
    )
    return KCoreResult(result, it, peeled(last), ctx.history)
