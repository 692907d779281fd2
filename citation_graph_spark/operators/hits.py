"""HITS (hubs & authorities) as join-aggregate supersteps.

Kleinberg's HITS on the directed link graph — the natural companion to
PageRank for citation analysis (the reference ranks papers purely by
in-degree, ``src/citation_graph/traverser.py:109-116``; HITS separates
"well-cited" (authority) from "cites-the-right-things" (hub), which
in-degree conflates).

Semantics (deterministic, fixed-point form used by the SQL oracle):

    a'(v) = Σ_{u→v} h(u)   then L1-normalize:  a' /= Σ_v a'(v)
    h'(v) = Σ_{v→u} a'(u)  then L1-normalize:  h' /= Σ_v h'(v)

starting from h(v) = 1/n. Authorities update from the PREVIOUS hub
vector, hubs from the CURRENT authority vector (the classic Gauss-Seidel
ordering). Converges when the L1 delta of both vectors drops below
``tol``; ``tol=0`` gives exactly ``max_iter`` supersteps (the
SQL-expressible variant the oracle unrolls).

Scale shape per superstep (what runs on 1000 executors):
- the edge table is cached TWICE, once hash-partitioned+sorted on ``src``
  (authority step: ``hub ⋈ edges`` on src, ``groupBy(dst).sum()``) and
  once on ``dst`` (hub step: ``auth ⋈ edges`` on dst,
  ``groupBy(src).sum()``) — each join is a merge-hinted SMJ where ONLY
  the small score frame shuffles, mirroring the PageRank superstep
  (operators/pagerank.py); both aggregations get map-side partials.
- two driver scalar actions per superstep: the first materializes the
  truncated raw state and reads both normalization sums (needed before
  the normalized vectors exist), the second reads the combined L1 delta
  off the already-cached blocks — a cheap re-aggregation, not a
  recompute of the joins.
- lineage truncated per superstep; durable Parquet checkpoints + manifest
  via the shared CheckpointManager, resume exact (normalization sums are
  recomputable from the state itself, so no extra metrics are needed).
"""

from __future__ import annotations

import time as _time
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, functions as F

from citation_graph_spark.edges import vertices_of
from citation_graph_spark.operators.superstep import SuperstepContext
from citation_graph_spark.sources.checkpoint import CheckpointManager


@dataclass
class HITSResult:
    scores: DataFrame  # (id, auth, hub)
    iterations: int
    delta: float
    converged: bool
    history: list[dict[str, Any]] = field(default_factory=list)


def hits(
    edges: DataFrame,
    tol: float = 1e-8,
    max_iter: int = 50,
    checkpoint_dir: str | None = None,
    durable_every: int = 5,
    resume: bool = True,
    num_partitions: int | None = None,
) -> HITSResult:
    """Run HITS on an ``(src, dst, ...)`` edge DataFrame.

    Returns per-vertex ``(id, auth, hub)`` L1-normalized scores.
    Vertices with no in-edges have auth 0; vertices with no out-edges
    have hub 0 (they still appear in the result)."""
    spark = edges.sparkSession
    num_partitions = num_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions", "32")
    )

    ckpt = None
    if checkpoint_dir is not None:
        ckpt = CheckpointManager(
            spark,
            checkpoint_dir,
            args={"algorithm": "hits", "tol": tol, "max_iter": max_iter},
        )
    ctx = SuperstepContext(checkpoint=ckpt, durable_every=durable_every)

    start_iter = 1
    state = None
    resumed_delta = None
    if ckpt is not None and resume:
        latest = ckpt.latest()
        if latest is not None:
            it, state_df, manifest = latest
            from citation_graph_spark.sources.checkpoint import resume_compatible

            if resume_compatible(manifest.get("args"), ckpt.args):
                prev_delta = manifest["metrics"].get("delta")
                if prev_delta is not None and float(prev_delta) < tol:
                    return HITSResult(
                        state_df.select("id", "auth", "hub"),
                        it,
                        float(prev_delta),
                        True,
                        [],
                    )
                state = state_df
                start_iter = it + 1
                if prev_delta is not None:
                    resumed_delta = float(prev_delta)

    # --- static per-run tables: the same edge rows cached in BOTH join
    # layouts (src-sorted for the authority step, dst-sorted for the hub
    # step), each persisted once and merge-join-ready ------------------------
    # distinct column names (and fresh attribute ids) per cache — the two
    # caches and the vertex frame all derive from `edges`, and identically
    # named lineage trips Spark's ambiguous-self-join analysis
    by_src = (
        edges.select(F.col("src").alias("a_src"), F.col("dst").alias("a_dst"))
        .repartition(num_partitions, "a_src")
        .sortWithinPartitions("a_src", "a_dst")
        .persist()
    )
    by_dst = (
        edges.select(F.col("src").alias("h_src"), F.col("dst").alias("h_dst"))
        .repartition(num_partitions, "h_dst")
        .sortWithinPartitions("h_dst", "h_src")
        .persist()
    )
    try:
        n = vertices_of(edges).count()
        if n == 0:
            empty = vertices_of(edges).select(
                "id", F.lit(0.0).alias("auth"), F.lit(0.0).alias("hub")
            )
            return HITSResult(empty, 0, 0.0, True, [])

        if state is None:
            state = vertices_of(edges).select(
                "id",
                F.lit(0.0).alias("auth"),
                F.lit(1.0 / n).alias("hub"),
            )
            state, _ = ctx.truncate(state, 0)
            ctx.record(state, 0, {"delta": None})

        delta = float("inf") if resumed_delta is None else resumed_delta
        it = start_iter - 1
        for it in range(start_iter, max_iter + 1):
            _t_iter = _time.time()
            # authority step: push hub scores along out-edges
            a_raw = (
                state.join(by_src.hint("merge"), state.id == F.col("a_src"))
                .groupBy(F.col("a_dst").alias("id"))
                .agg(F.sum("hub").alias("a_raw"))
            )
            # hub step folded into the same plan: normalize a_raw lazily via
            # a scalar subquery-free two-phase — materialize a_raw's sum and
            # the new state in ONE action at the end of the superstep. To
            # keep a single action per superstep, normalize with window-free
            # algebra: carry raw sums and divide after reading the totals.
            a_state = (
                state.join(a_raw.hint("merge"), "id", "left")
                .select(
                    "id",
                    F.coalesce("a_raw", F.lit(0.0)).alias("a_raw"),
                    "auth",
                    "hub",
                )
            )
            # hub step uses UNNORMALIZED a_raw (scale factor commutes through
            # the sum and cancels under L1 normalization — documented in the
            # oracle too): h_raw(v) = Σ_{v→u} a_raw(u)
            h_raw = (
                a_state.join(by_dst.hint("merge"), a_state.id == F.col("h_dst"))
                .groupBy(F.col("h_src").alias("id"))
                .agg(F.sum("a_raw").alias("h_raw"))
            )
            raw = (
                a_state.join(h_raw.hint("merge"), "id", "left")
                .select(
                    "id",
                    "a_raw",
                    F.coalesce("h_raw", F.lit(0.0)).alias("h_raw"),
                    "auth",
                    "hub",
                )
            )
            raw, _ = ctx.truncate(raw, it)
            # ONE driver action: both normalization sums
            row = raw.agg(
                F.sum("a_raw").alias("asum"), F.sum("h_raw").alias("hsum")
            ).first()
            asum = float(row["asum"] or 0.0) or 1.0
            hsum = float(row["hsum"] or 0.0) or 1.0
            new_state = raw.select(
                "id",
                (F.col("a_raw") / asum).alias("auth"),
                (F.col("h_raw") / hsum).alias("hub"),
                (
                    F.abs(F.col("a_raw") / asum - F.col("auth"))
                    + F.abs(F.col("h_raw") / hsum - F.col("hub"))
                ).alias("_delta"),
            )
            # second scalar action reads the L1 delta off the truncated plan
            # (state already materialized above; this is a cheap re-agg)
            delta = float(
                new_state.agg(F.sum("_delta")).first()[0] or 0.0
            )
            state = new_state.drop("_delta")
            ctx.record(
                state,
                it,
                {"delta": delta, "seconds": round(_time.time() - _t_iter, 3)},
            )
            if delta < tol:
                break

        converged = delta < tol
        if ckpt is not None:
            ctx.finish(state, it, {"delta": delta, "final": converged})
        return HITSResult(
            state.select("id", "auth", "hub"), it, delta, converged, ctx.history
        )
    finally:
        by_src.unpersist()
        by_dst.unpersist()
