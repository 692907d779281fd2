"""PageRank as join-aggregate supersteps — the engine's benchmark workload.

Semantics match the standard power iteration with damping ``alpha``,
uniform teleport, and uniform redistribution of dangling mass each
iteration (NetworkX semantics; the reference's citation counts are the
degree special case of this, ``src/citation_graph/traverser.py:109-116``):

    r'(v) = (1-a)/n + a * ( sum_{u->v} r(u)/outdeg(u)  +  dm/n )
    dm    = sum of r(u) over dangling u (no out-edges)

Converges when the L1 delta ``sum |r' - r|`` drops below ``tol`` (1e-6 per
the north rule).

Scale shape per superstep (what runs on 1000 executors):
- ``ranks ⋈ edges`` on ``src`` — the big side (edges) is pre-weighted,
  pre-partitioned on ``src`` and persisted ONCE, and the rank state is
  kept hash-partitioned on ``id`` into the same partition count
  (``SuperstepContext.run``), so neither side shuffles. An explicit
  ``salt_factor`` replicates rank rows across salted edge splits for
  deterministic hub handling (that join does shuffle the rank side).
- ``groupBy(dst).sum()`` — partial (map-side) aggregation bounds a hub
  dst's shuffle rows by the partition count, the built-in equivalent of
  two-phase salted aggregation. Its Exchange is the superstep's only one:
  the following ``state ⋈ contribs`` on ``id`` is co-partitioned.
- the superstep is ONE Spark job: the L1 delta and the next superstep's
  dangling mass are observed (``pyspark.sql.Observation``) by the job that
  checkpoints the new state, not read by an action of their own.
- durable Parquet checkpoints + manifest every ``durable_every``
  supersteps; a killed run resumes from the newest valid manifest (metrics
  carry the dangling mass, so resume is exact).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import Column, DataFrame, functions as F

from citation_graph_spark.operators.prepared import PreparedGraph, superstep_contribs
from citation_graph_spark.operators.superstep import SuperstepContext, exact_sum
from citation_graph_spark.sources.checkpoint import CheckpointManager, resume_compatible


@dataclass
class PageRankResult:
    ranks: DataFrame  # (id, rank)
    iterations: int
    delta: float
    converged: bool
    history: list[dict[str, Any]] = field(default_factory=list)


def pagerank(
    edges: DataFrame | None = None,
    alpha: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 100,
    checkpoint_dir: str | None = None,
    durable_every: int = 5,
    salt_factor: int | str = 0,
    num_partitions: int | None = None,
    prepared: PreparedGraph | None = None,
    weight_col: str | None = None,
) -> PageRankResult:
    """Run PageRank on an ``(src, dst, ...)`` edge DataFrame.

    ``weight_col``: optional strictly-positive edge-weight column —
    contributions become r(u)·weight(u,v)/Σ_w(u) instead of
    r(u)/outdeg(u) (weighted PageRank; identical superstep plan, only
    the per-edge ``w`` in the static cache changes). Ignored when
    ``prepared`` is passed (the PreparedGraph's own ``weight_col``
    governs, since its cache is already built).

    ``salt_factor``: 0/1 = unsalted; N>1 = split each src's edges over N
    salted join partitions (hub skew the cached edge side has, which AQE
    cannot split — measured 1.57× on a 15%-hub graph, BENCH.md);
    ``"auto"`` = the deterministic skew probe proposes a factor and a
    measured 2-superstep A/B validates it before committing
    (``PreparedGraph.resolve_salt_factor`` — auto can never pick a layout
    it just measured as slower than unsalted). The checkpoint manifest
    records the RESOLVED integer, and a resumed ``"auto"`` run ADOPTS
    that recorded factor instead of re-measuring (measurement is
    timing-dependent; adoption keeps resume deterministic and exact).

    ``prepared``: pass a :class:`PreparedGraph` to reuse the weighted
    sorted edge cache (and vertex/dangling tables) across repeated
    algorithm calls on the same graph — the static setup then runs once,
    outside this call's wall. Without it, a private one is built and
    released before returning (single-call behavior unchanged)."""
    owns_prepared = prepared is None
    if prepared is None:
        if edges is None:
            raise ValueError("pass either edges or prepared")
        prepared = PreparedGraph(edges, num_partitions, weight_col=weight_col)
    else:
        edges = prepared.edges
        weight_col = prepared.weight_col
    spark = edges.sparkSession
    if salt_factor == "auto":
        salt_factor = _resolve_auto_salt(
            spark, prepared, checkpoint_dir, alpha=alpha, tol=tol, max_iter=max_iter
        )
    ctx = SuperstepContext(
        spark,
        checkpoint_dir,
        args={
            "algorithm": "pagerank",
            "alpha": alpha,
            "tol": tol,
            "max_iter": max_iter,
            "salt_factor": salt_factor,
            **({"weight_col": weight_col} if weight_col else {}),
        },
        durable_every=durable_every,
        num_partitions=prepared.num_partitions,
    )

    def setup() -> tuple[DataFrame, Callable[[float], Column]]:
        n = prepared.n_vertices()
        init = prepared.dangling_flagged().select(
            "id", F.lit(1.0 / n).alias("rank"), "is_dangling"
        )
        return init, lambda dm: F.lit((1.0 - alpha) / n + alpha * dm / n)

    try:
        return _power_iteration(prepared, ctx, setup, alpha, tol, max_iter, salt_factor)
    finally:
        if owns_prepared:
            prepared.unpersist()


def personalized_pagerank(
    edges: DataFrame | None = None,
    sources: DataFrame | None = None,
    alpha: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 100,
    checkpoint_dir: str | None = None,
    durable_every: int = 5,
    salt_factor: int = 0,
    num_partitions: int | None = None,
    prepared: PreparedGraph | None = None,
) -> PageRankResult:
    """Personalized PageRank: random walk with restart to a source set.

    The reference's whole program is rooted expansion from one seed paper
    (``src/citation_graph/traverser.py:132-145`` walks outward from
    ``start_paper``); PPR is the principled scoring of that rooted view —
    relevance TO the seed set rather than global importance:

        r'(v) = ((1-a) + a*dm) * p(v) + a * Σ_{u→v} r(u)/outdeg(u)

    with ``p`` uniform over ``sources ∩ vertices`` (ns of them, p(v) =
    1/ns), r0 = p, dangling mass restarting at the sources, and the same
    L1-delta stopping rule as :func:`pagerank`. The superstep is the
    IDENTICAL plan shape (shared ``superstep_contribs``: merge-hinted SMJ
    vs the persisted src-sorted edge cache, map-side partial aggregation,
    one Spark job per superstep); only the per-vertex restart term
    differs, a branchless CASE over a broadcast-joined source flag.

    ``sources``: DataFrame with an ``id`` column (kept declarative —
    typically tiny vs the graph, so the flag join broadcasts). Ids not in
    the graph are ignored; ns counts only matched sources.
    ``salt_factor`` is the explicit integer knob (no "auto" here — the
    measured A/B would re-time what the pagerank study already settled
    for the shared superstep body)."""
    if sources is None:
        raise ValueError("personalized_pagerank requires a sources DataFrame")
    owns_prepared = prepared is None
    if prepared is None:
        if edges is None:
            raise ValueError("pass either edges or prepared")
        prepared = PreparedGraph(edges, num_partitions)
    else:
        edges = prepared.edges
    spark = edges.sparkSession

    args: dict[str, Any] = {}
    if checkpoint_dir is not None:
        # fingerprint the source set into the manifest args so a resume
        # against a checkpoint written for a DIFFERENT seed set is rejected
        # by the args-compat check (order-independent sum of id hashes, in
        # decimal: a long sum overflows under ANSI mode)
        src_fp = sources.select(
            F.sum(F.xxhash64(F.col("id").cast("string")).cast("decimal(38,0)"))
        ).first()[0]
        args = {
            "algorithm": "personalized_pagerank",
            "alpha": alpha,
            "tol": tol,
            "max_iter": max_iter,
            "salt_factor": salt_factor,
            "sources_fp": None if src_fp is None else int(src_fp),
        }
    ctx = SuperstepContext(
        spark, checkpoint_dir, args, durable_every=durable_every,
        num_partitions=prepared.num_partitions,
    )

    def setup() -> tuple[DataFrame, Callable[[float], Column]]:
        # source flag joined once into the static vertex table (broadcast:
        # the seed set is small by construction), then carried through the
        # state
        src_flagged = prepared.dangling_flagged().join(
            F.broadcast(sources.select(F.col("id")).distinct().withColumn(
                "is_source", F.lit(True)
            )),
            "id",
            "left",
        ).select(
            "id", "is_dangling", F.coalesce("is_source", F.lit(False)).alias("is_source")
        )
        ns = src_flagged.where("is_source").count()
        if ns == 0:
            raise ValueError("no source id matches a graph vertex")
        init = src_flagged.select(
            "id",
            F.when(F.col("is_source"), F.lit(1.0 / ns)).otherwise(0.0).alias("rank"),
            "is_dangling",
            "is_source",
        )
        # the total mass restarting, (1-a) + a*dm, spread over the sources
        return init, lambda dm: F.when(
            F.col("is_source"), F.lit(((1.0 - alpha) + alpha * dm) / ns)
        ).otherwise(0.0)

    try:
        return _power_iteration(prepared, ctx, setup, alpha, tol, max_iter, salt_factor)
    finally:
        if owns_prepared:
            prepared.unpersist()


def _resolve_auto_salt(
    spark, prepared: PreparedGraph, checkpoint_dir: str | None, **call_args
) -> int:
    """Resolve ``salt_factor="auto"`` for one pagerank call.

    A resumable checkpoint whose OTHER args match this call ADOPTS the
    manifest's recorded integer factor: the measured A/B inside
    ``resolve_salt_factor`` is timing-dependent, and a re-measurement
    that resolved differently would fail the args-compat check and
    silently discard the checkpoint. Only a fresh run (no compatible
    manifest) probes + measures."""
    if checkpoint_dir is not None:
        latest = CheckpointManager(spark, checkpoint_dir).latest()
        if latest is not None:
            margs = dict(latest[2].get("args") or {})
            recorded = margs.get("salt_factor")
            want = {"algorithm": "pagerank", **call_args, "salt_factor": recorded}
            if isinstance(recorded, int) and resume_compatible(margs, want):
                return recorded
    return prepared.resolve_salt_factor()


def _power_iteration(
    prepared: PreparedGraph,
    ctx: SuperstepContext,
    setup: Callable[[], tuple[DataFrame, Callable[[float], Column]]],
    alpha: float,
    tol: float,
    max_iter: int,
    salt_factor: int,
) -> PageRankResult:
    """The superstep loop of :func:`pagerank` and
    :func:`personalized_pagerank`. ``setup()`` (called only for a non-empty
    graph) returns the iteration-0 state ``(id, rank, is_dangling, ...)``
    and ``teleport``: dangling mass -> the per-vertex restart Column of the
    next superstep. Columns after ``rank`` are carried through unchanged.

    Each state's dangling mass is observed by its checkpoint job (a resumed
    state's equals its manifest's: the sum is exact), each superstep's L1
    delta by the superstep's."""

    def converged(metrics: dict[str, Any]) -> bool:
        return metrics.get("delta") is not None and metrics["delta"] < tol

    # a fully-converged checkpoint returns before any static table is built
    latest = ctx.resume()
    if latest is not None and converged(latest[2]):
        done, state, metrics = latest
        return PageRankResult(state.select("id", "rank"), done, metrics["delta"], True, [])

    # --- static per-run tables (PreparedGraph: built once, persisted,
    # shared across algorithm calls when the caller passed one) ------------
    w_edges = prepared.weighted_edges(salt_factor)
    if prepared.n_vertices() == 0:
        empty = prepared.dangling_flagged().select(F.col("id"), F.lit(0.0).alias("rank"))
        return PageRankResult(empty, 0, 0.0, True, [])
    init, teleport = setup()

    state, it, last = ctx.run(
        latest,
        lambda: init,
        lambda state, it, last: superstep_ranks(
            state, w_edges, salt_factor, teleport(last["dangling_mass"]), alpha
        ),
        max_iter,
        stop=converged,
        observe={"dangling_mass": exact_sum(F.when(F.col("is_dangling"), F.col("rank")))},
        feed={"delta": exact_sum(F.col("_delta"))},
    )
    # no superstep run from iteration 0 (max_iter=0) leaves no residual
    delta = float("inf") if last["delta"] is None else last["delta"]
    return PageRankResult(state.select("id", "rank"), it, delta, converged(last), ctx.history)


def superstep_ranks(
    state: DataFrame, w_edges: DataFrame, salt_factor: int, teleport: Column, alpha: float
) -> DataFrame:
    """One PageRank superstep: ``(id, rank, <carried>..., _delta)`` with
    rank' = teleport + alpha * contrib and ``_delta`` = |rank' - rank|.

    The join-agg body lives in ``prepared.superstep_contribs`` — shared with
    the measured salt A/B so the probe times this exact plan. Every state
    column after ``id`` and ``rank`` is carried through unchanged."""
    contribs = superstep_contribs(state, w_edges, salt_factor)
    new_rank = teleport + F.lit(alpha) * F.coalesce("contrib", F.lit(0.0))
    carried = [state[c] for c in state.columns if c not in ("id", "rank")]
    # ``state.id`` un-aliased: the checkpointed state reports its partitioning
    # on the attribute the optimized plan carries, and ``Alias(id, "id")`` is
    # optimized away, so an alias would leave the partitioning pointing at
    # an attribute the new state does not output (and cost an Exchange)
    return state.join(contribs.hint("merge"), state.id == contribs.dst, "left").select(
        state.id,
        new_rank.alias("rank"),
        *carried,
        F.abs(new_rank - state.rank).alias("_delta"),
    )
