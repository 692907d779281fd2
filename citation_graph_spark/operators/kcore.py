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
fixpoint, which makes the (already materialized) per-round edge count
the convergence test for free. Round count is bounded by the peel depth,
small in practice (web/citation graphs: a handful of rounds).

Scale shape per superstep (what runs on 1000 executors):
- ``groupBy(src).count()`` over the current edge set — map-side partial
  aggregation; the symmetrized set carries both directions so one
  aggregation yields undirected degrees.
- two semi-joins (src ∈ survivors, dst ∈ survivors) restrict the edge
  set; survivors shrinks every round and never carries payload columns.
- one driver scalar action per superstep (edge count — which also
  materializes the lazily localCheckpoint-ed new state, same one-job
  discipline as the pagerank loop) drives the fixpoint test; lineage
  truncated per superstep via the shared ``SuperstepContext``.

Durable checkpointing is deliberately omitted: peel states are derived
data recomputable from the edge table, and rounds are seconds even at
scale — the pagerank/cc/lpa loops demonstrate the durable-resume
machinery for the states that need it (sources/checkpoint.py).
"""

from __future__ import annotations

import time as _time
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, functions as F

from citation_graph_spark.edges import symmetrize
from citation_graph_spark.operators.superstep import SuperstepContext


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
    spark = edges.sparkSession
    num_partitions = num_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions", "32")
    )
    ctx = SuperstepContext(checkpoint=None)

    # both directions present, deduped, self-loops dropped → one
    # groupBy(src) == undirected degree
    state = symmetrize(edges).repartition(num_partitions, "src")
    state, _ = ctx.truncate(state, 0)
    prev_ne = state.count()
    ctx.record(state, 0, {"edges": prev_ne})

    it = 0
    converged = prev_ne == 0
    for it in range(1, (max_iter if not converged else 0) + 1):
        _t_iter = _time.time()
        deg = state.groupBy("src").agg(F.count("*").alias("degree"))
        survivors = deg.where(F.col("degree") >= k).select(
            F.col("src").alias("id")
        )
        new_state = state.join(
            survivors, state.src == survivors.id, "left_semi"
        ).join(survivors, F.col("dst") == survivors.id, "left_semi")
        state, _ = ctx.truncate(new_state, it)
        ne = state.count()  # materializes the truncated state
        ctx.record(
            state,
            it,
            {
                "edges": ne,
                "dropped_edges": prev_ne - ne,
                "seconds": round(_time.time() - _t_iter, 3),
            },
        )
        done = ne == prev_ne or ne == 0
        prev_ne = ne
        if done:
            converged = True
            break

    # within-core degrees off the fixpoint edge set (every vertex left in
    # it has degree ≥ k by construction; empty set → empty core)
    result = state.groupBy("src").agg(F.count("*").alias("degree")).select(
        F.col("src").alias("id"), "degree"
    )
    return KCoreResult(result, it, converged, ctx.history)
