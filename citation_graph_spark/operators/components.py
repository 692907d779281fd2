"""Connected components — hash-min label propagation as supersteps.

Semantics: over the *undirected* view of the edge table, every vertex ends
with ``label = min(vertex id in its component)``. Exact at convergence
(north rule), verified against a pure-python union-find oracle.

The update rule is the distributed hash-min of SURVEY.md F1/A3 — "keep the
minimum label per key", the same join-aggregate shape as the reference's
first-wins visited-set insert (``src/citation_graph/traverser.py:97-107``):

    label'(v) = min( label(v), min_{u ~ v} label(u) )

Per iteration: one join of the (small) label frame against the persisted
symmetrized edge table on ``src`` + one ``groupBy(dst).min()`` (map-side
partial agg bounds hub fan-in); the changed count for the fixpoint test is
observed by the same Spark job. Runs in O(diameter) supersteps; state is
plan-truncated per iteration and durably checkpointed like PageRank.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import DataFrame, functions as F

from citation_graph_spark.edges import symmetrize, vertices_of
from citation_graph_spark.operators.prepared import PreparedGraph
from citation_graph_spark.operators.superstep import SuperstepContext, count_true, id_copy
from citation_graph_spark.session import partition_count


@dataclass
class ComponentsResult:
    labels: DataFrame  # (id, label)
    iterations: int
    converged: bool
    history: list[dict[str, Any]] = field(default_factory=list)


def connected_components(
    edges: DataFrame | None = None,
    max_iter: int = 50,
    checkpoint_dir: str | None = None,
    durable_every: int = 5,
    num_partitions: int | None = None,
    algorithm: str = "hash_min",
    prepared: PreparedGraph | None = None,
) -> ComponentsResult:
    """``algorithm``: ``hash_min`` (O(diameter) supersteps — right for
    short-diameter web graphs) or ``two_star`` (alternating large-star /
    small-star, O(log n) rounds — right for long-diameter graphs).

    ``prepared``: reuse a :class:`PreparedGraph`'s persisted symmetrized
    edge cache across algorithm calls (see operators/prepared.py)."""
    owns_prepared = prepared is None
    if prepared is None:
        if edges is None:
            raise ValueError("pass either edges or prepared")
        prepared = PreparedGraph(edges, num_partitions)
    else:
        edges = prepared.edges
    try:
        if algorithm == "two_star":
            # pass the shared cache only when the caller owns it — a private
            # one would pay an extra sym materialization for a single use
            return _two_star(
                edges,
                max_iter,
                prepared.num_partitions,
                None if owns_prepared else prepared,
                checkpoint_dir,
                durable_every,
            )
        if algorithm != "hash_min":
            raise ValueError(f"unknown algorithm {algorithm!r}")
        return _hash_min(prepared, max_iter, checkpoint_dir, durable_every)
    finally:
        if owns_prepared:
            prepared.unpersist()


def _hash_min(
    prepared: PreparedGraph,
    max_iter: int,
    checkpoint_dir: str | None,
    durable_every: int,
) -> ComponentsResult:
    # CSR-style layout (see pagerank.py): the symmetrized view is cache-sorted
    # on src and the label state co-partitioned with it on id, so each
    # superstep's merge join shuffles neither side
    def step(state: DataFrame, sym: DataFrame) -> DataFrame:
        nbr_min = (
            state.join(sym.hint("merge"), state.id == sym.src)
            .groupBy(sym.dst.alias("id"))
            .agg(F.min("label").alias("nbr_label"))
        )
        return state.join(nbr_min.hint("merge"), "id", "left").select(
            "id",
            F.least("label", F.coalesce("nbr_label", "label")).alias("label"),
            (F.col("label") > F.coalesce("nbr_label", "label")).alias("_changed"),
        )

    return label_fixpoint(
        prepared, "connected_components", step, max_iter, checkpoint_dir, durable_every
    )


def label_fixpoint(
    prepared: PreparedGraph,
    algorithm: str,
    step: Callable[[DataFrame, DataFrame], DataFrame],
    max_iter: int,
    checkpoint_dir: str | None,
    durable_every: int,
) -> ComponentsResult:
    """The superstep loop of hash-min CC and label propagation: every vertex
    starts labelled with its own id; ``step(state, sym)`` maps the
    ``(id, label)`` state and the PreparedGraph's symmetrized edge cache to
    the next ``(id, label, _changed)``. Stops when no label changed or after
    ``max_iter`` supersteps; checkpointed and resumable under ``algorithm``."""
    ctx = SuperstepContext(
        prepared.edges.sparkSession,
        checkpoint_dir,
        args={"algorithm": algorithm, "max_iter": max_iter},
        durable_every=durable_every,
        num_partitions=prepared.num_partitions,
    )

    def fixpoint(metrics: dict[str, Any]) -> bool:
        return metrics.get("changed") == 0

    latest = ctx.resume()
    if latest is not None and fixpoint(latest[2]):
        return ComponentsResult(latest[1].select("id", "label"), latest[0], True, [])

    # shared by CC and LPA via PreparedGraph when the caller passed one
    sym = prepared.symmetrized()
    state, it, last = ctx.run(
        latest,
        # vertex set from the PreparedGraph's cached flag table (one
        # aggregation, shared with pagerank and prebuilt by callers that
        # pass a prepared graph) instead of a private union-distinct over
        # the edge table (r06)
        lambda: prepared.dangling_flagged().select("id", id_copy().alias("label")),
        lambda state, it, last: step(state, sym),
        max_iter,
        stop=fixpoint,
        feed={"changed": count_true("_changed")},
    )
    return ComponentsResult(state.select("id", "label"), it, fixpoint(last), ctx.history)


# ---------------------------------------------------------------------------
# alternating large-star / small-star (Kiveris et al., "Connected Components
# in MapReduce and Beyond") — O(log n) rounds, the long-diameter scale path
# ---------------------------------------------------------------------------


def _two_star(
    edges: DataFrame,
    max_iter: int,
    num_partitions: int | None,
    prepared: PreparedGraph | None = None,
    checkpoint_dir: str | None = None,
    durable_every: int = 5,
) -> ComponentsResult:
    """Alternating star rounds over parent pointers.

    State: a directed pointer set P = {(u, parent)}. One round =
    large-star (hang strictly-larger neighbours under the neighbourhood
    min) then small-star (hang not-larger neighbours + self under it).
    Converges when the pointer set is a fixpoint (a forest of depth-1
    stars rooted at component minima). Each phase is one groupBy + one
    join — O(log n) rounds total regardless of diameter.

    Each round is one checkpoint job that also observes the fixpoint test's
    inputs: the pointer count and an order-independent xxhash64 checksum
    of the pointer set. Resume goes through ``SuperstepContext.run``
    (reference analog: ``src/citation_graph/cache_manager.py:221-237``):
    the durable state is the pointer set, and the resumed state's
    checkpoint observes its checksum, so a resumed run re-enters the
    fixpoint test exactly where the killed run left it. Star rounds are
    deterministic set transforms, so kill/resume is byte-identical to an
    uninterrupted run. This matters precisely here: two-star is the
    long-diameter O(log n) path — the variant an hour-long 100× run uses.
    """
    spark = edges.sparkSession
    num_partitions = partition_count(spark, num_partitions)
    ctx = SuperstepContext(
        spark,
        checkpoint_dir,
        args={"algorithm": "cc_two_star", "max_iter": max_iter},
        durable_every=durable_every,
    )

    verts = vertices_of(edges).persist()

    def finish_labels(state: DataFrame, it: int, converged: bool) -> ComponentsResult:
        # at fixpoint every pointer is (u, component_min); centers point
        # to self
        labels = state.where(F.col("v") <= F.col("u")).groupBy("u").agg(
            F.min("v").alias("label")
        )
        result = (
            verts.join(labels.withColumnRenamed("u", "id"), "id", "left")
            .select("id", F.coalesce("label", "id").alias("label"))
        )
        verts.unpersist()
        return ComponentsResult(result, it, converged, ctx.history)

    def converged(metrics: dict[str, Any]) -> bool:
        return bool(metrics.get("converged"))

    latest = ctx.resume()
    if latest is not None and converged(latest[2]):
        return finish_labels(latest[1], latest[0], True)

    def init() -> DataFrame:
        # initial pointers: undirected neighbour pairs, both directions —
        # reuse the PreparedGraph's persisted symmetrized view when available
        sym0 = prepared.symmetrized() if prepared is not None else symmetrize(edges)
        pairs = sym0.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        return pairs.repartition(num_partitions, "u")

    def metrics(it: int, seen: dict[str, Any], last: dict[str, Any] | None) -> dict[str, Any]:
        same = last is not None and all(seen[k] == last[k] for k in seen)
        return {**seen, "converged": same}

    def large_star(p: DataFrame) -> DataFrame:
        # Γ(u) is the SYMMETRIC neighbourhood (each edge contributes both
        # directions); m(u) = min(Γ(u) ∪ {u}); emit (v, m(u)) for every
        # strictly-larger neighbour v. All outputs point big → small.
        sym = p.select("u", "v").unionByName(
            p.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        m = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
        return (
            sym.join(m, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )

    def small_star(p: DataFrame) -> DataFrame:
        # orient every edge big → small, group by the big end, hang the
        # small neighbours + self under the minimum.
        le = p.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).where(F.col("u") != F.col("v"))
        m = le.groupBy("u").agg(F.min("v").alias("m"))
        hang_nbrs = (
            le.join(m, "u")
            .where(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        hang_self = m.select(F.col("u"), F.col("m").alias("v"))
        return hang_nbrs.unionByName(hang_self).distinct()

    # pointer count + order-independent checksum, observed on every state
    # (a resumed one too, so the fixpoint test re-enters where the killed
    # run left it). Decimal sum: long would overflow under ANSI mode;
    # coalesce so an empty pointer set checksums to "0", not NULL; a string,
    # as manifests record it
    state, it, last = ctx.run(
        latest,
        init,
        lambda state, it, last: small_star(large_star(state)),
        max_iter,
        metrics,
        stop=converged,
        observe={
            "pointers": F.count(F.lit(1)),
            "checksum": F.coalesce(
                F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")),
                F.lit(0).cast("decimal(38,0)"),
            ).cast("string"),
        },
    )
    return finish_labels(state, it, converged(last))
