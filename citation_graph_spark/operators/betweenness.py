"""Betweenness centrality — root-sampled, depth-bounded Brandes as
batched DataFrame supersteps.

Exact betweenness is O(|V|·|E|) (Brandes 2001) — out of reach at web
scale. The standard estimator samples a root set S and bounds the BFS
depth (k-bounded betweenness; Riondato–Kornaropoulos-style source
sampling): run Brandes' forward/backward passes from every s ∈ S at once
and scale by |V|/|S| if an absolute estimate is wanted. The reference
engine keeps its whole graph driver-side and computes no centralities —
no analog to cite; this module documents its own scale contract.

Formulation (everything batched across roots — ``root`` is part of every
key, so one Spark job per LEVEL, not per root):

- **Forward** (level d → d+1): ``frontier ⋈ edges`` on ``id = src``,
  group by (root, dst) summing σ (shortest-path counts), anti-join the
  per-root visited set. σ accumulates as ``decimal(38,0)`` — exact
  integers, deterministic under any partitioning (path counts grow
  exponentially with depth; int64 overflows around fan-out^depth > 9e18,
  decimal raises instead of wrapping).
- **Backward** (level d+1 → d): dependency δ(u) = Σ_{DAG succ w}
  (σ_u/σ_w)·(1+δ_w). The DAG edge set is recovered implicitly: a raw
  edge (u, w) is a shortest-path DAG edge for root s iff u ∈ level d and
  w ∈ level d+1 of s's BFS — exactly what the level-keyed join enforces,
  so no predecessor lists are materialized (Brandes' trick, shuffled).
- bc(v) = Σ_{s ∈ S, v ≠ s} δ_s(v).

Scale contract: 2·max_d supersteps total; each is an equi-join of the
level frame against the edge table (SMJ/shuffle-hash, AQE skew-split for
hubs) + a map-side-partial groupBy. State is O(|S| · ball) rows — the
known memory cost of batched Brandes; pick |S| per executor-memory
budget and let the root batch loop outside if needed. Every level is
eagerly ``localCheckpoint``-ed (the backward pass re-reads all of them;
lineage would otherwise replay the whole forward phase per backward
level) and released as soon as nothing downstream can re-read it.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Sequence

from pyspark.sql import DataFrame, functions as F

from citation_graph_spark.operators.metrics import _simple_edges
from citation_graph_spark.operators.superstep import local_checkpoint, release

_DEC = "decimal(38,0)"


@dataclass
class BetweennessResult:
    scores: DataFrame          # (id, betweenness) — raw sampled sums
    per_vertex: DataFrame      # (root, id, dist, sigma) forward state
    n_roots: int
    history: list[dict[str, Any]]


def _default_roots(e: DataFrame, n_roots: int) -> DataFrame:
    """The ``n_roots`` smallest source ids — deterministic on any layout
    (a global TopK, not a full sort)."""
    return (
        e.select(F.col("src").alias("root"))
        .distinct()
        .orderBy("root")
        .limit(n_roots)
    )


def betweenness(
    edges: DataFrame,
    roots: Sequence[int] | DataFrame | None = None,
    n_roots: int = 4,
    max_d: int = 3,
    scale: float | None = None,
) -> BetweennessResult:
    """Depth-bounded Brandes from a sampled root set (see module doc).

    ``roots``: explicit ids (list or a (root) DataFrame); default = the
    ``n_roots`` smallest sources. ``scale`` multiplies the raw sampled
    sums (pass |V|/|S| for the unbiased absolute estimate; default keeps
    the raw sums, which is what a fixed-root oracle can reproduce).

    Returns materialized (localCheckpoint-ed) frames — safe to use after
    this function returns; intermediates are already released.
    """
    spark = edges.sparkSession
    e = _simple_edges(edges).persist()
    if roots is None:
        root_df = _default_roots(e, n_roots)
    elif isinstance(roots, DataFrame):
        # dedup: a duplicated root would double sigma/delta for that root
        # and silently inflate betweenness sums (ADVICE r05)
        root_df = roots.select(F.col(roots.columns[0]).alias("root")).distinct()
    else:
        root_df = spark.createDataFrame(
            [(int(r),) for r in sorted(set(int(r) for r in roots))], "root long"
        )

    origin = root_df.select("root", F.col("root").alias("id"), F.lit(1).cast(_DEC).alias("sigma"))
    level0, observed = local_checkpoint(origin, n=F.count(F.lit(1)))
    n_roots = observed["n"]

    levels: list[DataFrame] = [level0]
    seen = level0.select("root", "id").localCheckpoint(eager=True)
    old_seen: list[DataFrame] = []
    history: list[dict[str, Any]] = []

    for d in range(1, max_d + 1):
        prev = levels[-1]
        cand = (
            prev.join(e, prev["id"] == e["src"])
            .groupBy("root", F.col("dst").alias("vid"))
            .agg(F.sum("sigma").alias("sigma"))
            .withColumnRenamed("vid", "id")
        )
        nxt, observed = local_checkpoint(
            cand.join(seen, ["root", "id"], "left_anti"), n=F.count(F.lit(1))
        )
        n = observed["n"]
        history.append({"superstep": f"forward_{d}", "frontier_rows": n})
        if n == 0:
            release(nxt)
            break
        levels.append(nxt)
        old_seen.append(seen)
        seen = (
            seen.unionByName(nxt.select("root", "id"))
            .localCheckpoint(eager=True)
        )

    # Backward: δ at the deepest level is 0; walk levels upward.
    deltas: list[DataFrame] = [None] * len(levels)  # type: ignore[list-item]
    deltas[-1] = levels[-1].withColumn("delta", F.lit(0.0))
    for d in range(len(levels) - 2, -1, -1):
        u, w = levels[d], deltas[d + 1]
        # levels share attribute lineage through the frontier groupBys, so
        # rename BOTH sides before the join — an exprId-based condition
        # would resolve trivially true and lean on self-join rescue rules
        usel = u.select(
            F.col("root").alias("uroot"),
            F.col("id").alias("uid"),
            F.col("sigma").alias("usigma"),
        )
        wsel = w.select(
            F.col("root").alias("wroot"),
            F.col("id").alias("wid"),
            F.col("sigma").alias("wsigma"),
            F.col("delta").alias("wdelta"),
        )
        contrib = (
            usel.join(e, F.col("uid") == e["src"])
            .join(
                wsel,
                (F.col("dst") == F.col("wid"))
                & (F.col("uroot") == F.col("wroot")),
                "inner",
            )
            .select(
                F.col("uroot").alias("root"),
                F.col("uid").alias("id"),
                (
                    (F.col("usigma").cast("double") / F.col("wsigma").cast("double"))
                    * (F.lit(1.0) + F.col("wdelta"))
                ).alias("c"),
            )
            .groupBy("root", "id")
            .agg(F.sum("c").alias("delta"))
        )
        deltas[d] = (
            u.join(contrib, ["root", "id"], "left")
            .select(
                "root",
                "id",
                "sigma",
                F.coalesce("delta", F.lit(0.0)).alias("delta"),
            )
            .localCheckpoint(eager=True)
        )
        history.append({"superstep": f"backward_{d}"})

    all_delta = deltas[0]
    for fr in deltas[1:]:
        all_delta = all_delta.unionByName(fr)
    bc = (
        all_delta.where(F.col("id") != F.col("root"))
        .groupBy("id")
        .agg(F.sum("delta").alias("betweenness"))
    )
    # roots with no downstream contributions still deserve a 0 row, and so
    # does every visited vertex — the output vertex set is "visited".
    visited = seen.select("id").distinct()
    scores = visited.join(bc, "id", "left").select(
        "id",
        (
            F.coalesce("betweenness", F.lit(0.0))
            * F.lit(1.0 if scale is None else float(scale))
        ).alias("betweenness"),
    )
    scores = scores.localCheckpoint(eager=True)

    per_vertex = levels[0].withColumn("dist", F.lit(0))
    for d, fr in enumerate(levels[1:], start=1):
        per_vertex = per_vertex.unionByName(fr.withColumn("dist", F.lit(d)))
    per_vertex = per_vertex.select("root", "id", "dist", "sigma").localCheckpoint(
        eager=True
    )

    for fr in levels + [x for x in deltas if x is not None] + old_seen + [seen]:
        release(fr)
    e.unpersist()
    return BetweennessResult(
        scores=scores,
        per_vertex=per_vertex,
        n_roots=n_roots,
        history=history,
    )
