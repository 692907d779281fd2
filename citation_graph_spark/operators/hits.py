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
  ``groupBy(src).sum()``); both aggregations get map-side partials.
- the score state and the raw sums are kept hash-partitioned on ``id``
  into the caches' partition count (``num_partitions`` of
  ``SuperstepContext`` and ``local_checkpoint``), so every merge-hinted
  SMJ is co-partitioned and the two aggregates are the superstep's only
  Exchanges, like the PageRank superstep (operators/pagerank.py).
- the raw sums are checkpointed first (``local_checkpoint``), and one
  driver scalar action reads both normalization sums off the checkpointed
  blocks (needed before the normalized vectors exist) — a cheap
  re-aggregation, not a recompute of the joins. The sums stay a plain
  double action: an observed sum would merge task results in completion
  order, and ``exact_sum``'s decimal range does not cover ``hsum`` (up to
  max in-degree × max out-degree). The normalized state is then
  checkpointed by ``SuperstepContext.run``, whose job also observes the
  combined L1 delta as an exact sum.
- resume, the args check and durable checkpoints go through
  ``SuperstepContext.run`` like every superstep loop; resume is exact (the
  normalization sums are recomputable from the state itself, so the
  manifest needs only the L1 delta).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, functions as F

from citation_graph_spark.edges import vertices_of
from citation_graph_spark.operators.superstep import (
    SuperstepContext,
    exact_sum,
    local_checkpoint,
    release,
)
from citation_graph_spark.session import partition_count


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
    num_partitions: int | None = None,
) -> HITSResult:
    """Run HITS on an ``(src, dst, ...)`` edge DataFrame.

    Returns per-vertex ``(id, auth, hub)`` L1-normalized scores.
    Vertices with no in-edges have auth 0; vertices with no out-edges
    have hub 0 (they still appear in the result)."""
    spark = edges.sparkSession
    num_partitions = partition_count(spark, num_partitions)
    ctx = SuperstepContext(
        spark,
        checkpoint_dir,
        args={"algorithm": "hits", "tol": tol, "max_iter": max_iter},
        durable_every=durable_every,
        num_partitions=num_partitions,
    )

    def converged(metrics: dict[str, Any]) -> bool:
        return metrics.get("delta") is not None and metrics["delta"] < tol

    latest = ctx.resume()
    if latest is not None and converged(latest[2]):
        done, state, metrics = latest
        return HITSResult(state.select("id", "auth", "hub"), done, metrics["delta"], True, [])

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
    # the checkpointed raw sums of the superstep in flight: released once
    # the next state, which reads them, is materialized
    raws: list[DataFrame] = []

    def step(state: DataFrame, it: int, last: dict[str, Any]) -> DataFrame:
        while raws:
            release(raws.pop())
        # authority step: push hub scores along out-edges
        a_raw = (
            state.join(by_src.hint("merge"), state.id == F.col("a_src"))
            .groupBy(F.col("a_dst").alias("id"))
            .agg(F.sum("hub").alias("a_raw"))
        )
        # hub step folded into the same plan: carry the raw sums and
        # divide after reading the totals off the checkpointed frame
        a_state = state.join(a_raw.hint("merge"), "id", "left").select(
            "id", F.coalesce("a_raw", F.lit(0.0)).alias("a_raw"), "auth", "hub"
        )
        # hub step uses UNNORMALIZED a_raw (scale factor commutes through
        # the sum and cancels under L1 normalization — documented in the
        # oracle too): h_raw(v) = Σ_{v→u} a_raw(u)
        h_raw = (
            a_state.join(by_dst.hint("merge"), a_state.id == F.col("h_dst"))
            .groupBy(F.col("h_src").alias("id"))
            .agg(F.sum("a_raw").alias("h_raw"))
        )
        raw, _ = local_checkpoint(
            a_state.join(h_raw.hint("merge"), "id", "left").select(
                "id",
                "a_raw",
                F.coalesce("h_raw", F.lit(0.0)).alias("h_raw"),
                "auth",
                "hub",
            ),
            num_partitions,
        )
        raws.append(raw)
        # the one scalar action: both normalization sums, re-aggregated off
        # the checkpointed blocks (not a recompute of the joins)
        row = raw.agg(F.sum("a_raw").alias("asum"), F.sum("h_raw").alias("hsum")).first()
        asum = float(row["asum"] or 0.0) or 1.0
        hsum = float(row["hsum"] or 0.0) or 1.0
        return raw.select(
            "id",
            (F.col("a_raw") / asum).alias("auth"),
            (F.col("h_raw") / hsum).alias("hub"),
            (
                F.abs(F.col("a_raw") / asum - F.col("auth"))
                + F.abs(F.col("h_raw") / hsum - F.col("hub"))
            ).alias("_delta"),
        )

    try:
        n = vertices_of(edges).count()
        if n == 0:
            empty = vertices_of(edges).select(
                "id", F.lit(0.0).alias("auth"), F.lit(0.0).alias("hub")
            )
            return HITSResult(empty, 0, 0.0, True, [])
        state, it, last = ctx.run(
            latest,
            lambda: vertices_of(edges).select(
                "id", F.lit(0.0).alias("auth"), F.lit(1.0 / n).alias("hub")
            ),
            step,
            max_iter,
            stop=converged,
            feed={"delta": exact_sum(F.col("_delta"))},
        )
        delta = float("inf") if last["delta"] is None else last["delta"]
        return HITSResult(
            state.select("id", "auth", "hub"), it, delta, converged(last), ctx.history
        )
    finally:
        for df in (*raws, by_src, by_dst):
            release(df)
