"""BFS root expansion — the reference's actual algorithm, as supersteps.

Mirrors ``Traverser.collect`` (``src/citation_graph/traverser.py:92-131``):
start from one root, expand level by level through the out-edge table,
with

- per-src fan-out cap in extraction order (``max_citations_per_paper``,
  W1 — ``traverser.py:168-187``), applied ONCE to the edge table up front,
- visited-set first-wins insert (F1/J2 — ``traverser.py:97-107``); the
  reference keeps the first parent dict order happens to produce, which is
  nondeterministic — here the documented deterministic tie-break is
  *min parent id at equal depth* (SURVEY.md §7),
- exclude-list anti-join applied to every level (F2/J3 —
  ``traverser.py:156-159``), broadcast (the list is small),
- zero-out-degree pruning falls out of the inner join (F3 —
  ``database.py:195-199`` existed only to skip RPCs).

Returns the visited table ``(id, depth, parent)`` — exactly the
``_PaperNode`` state (``traverser.py:24-28``); the BFS spanning tree is the
``parent`` column (no recursive tree build needed, cf. SURVEY.md J6).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, functions as F

from citation_graph_spark.edges import cap_out_degree
from citation_graph_spark.operators.superstep import SuperstepContext, count_true
from citation_graph_spark.session import partition_count


@dataclass
class BFSResult:
    visited: DataFrame  # (id, depth, parent)
    depth_reached: int
    history: list[dict[str, Any]] = field(default_factory=list)


def bfs_expand(
    edges: DataFrame,
    root,
    max_depth: int,
    max_per_src: int | None = None,
    exclude: DataFrame | None = None,
    checkpoint_dir: str | None = None,
    durable_every: int = 5,
    num_partitions: int | None = None,
) -> BFSResult:
    """Expand from ``root`` over directed ``(src, dst[, pos])`` edges.

    ``exclude``: optional single-column (``id``) DataFrame — the
    reference's exclude-papers file (``paper.py:181-201``).

    With ``checkpoint_dir`` set, a killed run resumes from the newest valid
    manifest whose recorded root/max_per_src match this call (``max_depth``
    is a continuation knob: resuming with a larger depth keeps expanding).
    ``exclude`` is a DataFrame and is NOT validated against the manifest —
    callers resuming with a different exclude list must start fresh.

    Iteration ``k`` of the superstep loop is depth ``k``; a level that adds
    no vertex ends the run (it is recorded, and its state equals the
    previous level's).
    """
    spark = edges.sparkSession
    num_partitions = partition_count(spark, num_partitions)
    ctx = SuperstepContext(
        spark,
        checkpoint_dir,
        args={
            "algorithm": "bfs_expand",
            "root": str(root),
            "max_depth": max_depth,
            "max_per_src": max_per_src,
        },
        durable_every=durable_every,
    )
    latest = ctx.resume(ignore=("max_depth",))
    if latest is not None:
        done, visited, metrics = latest
        if metrics.get("new_vertices") == 0 or done >= max_depth:
            # Nothing left to expand (frontier died, or the resumed state
            # already covers the requested depth).
            visited = visited.where(F.col("depth") <= max_depth)
            reached = visited.agg(F.max("depth")).first()[0] or 0
            return BFSResult(visited, int(reached), [])

    adj = edges
    if max_per_src is not None:
        if "pos" not in adj.columns:
            raise ValueError("max_per_src needs a 'pos' column (extraction order)")
        adj = cap_out_degree(adj, max_per_src)
    adj = adj.select("src", "dst").repartition(num_partitions, "src").persist()
    adj.count()

    def init() -> DataFrame:
        id_type = dict(edges.dtypes)["src"]
        return spark.createDataFrame(
            [(root, 0, None)], f"id {id_type}, depth int, parent {id_type}"
        )

    def step(visited: DataFrame, depth: int, last: dict[str, Any]) -> DataFrame:
        frontier = visited.where(F.col("depth") == depth - 1).select("id")
        candidates = frontier.join(adj, frontier.id == adj.src).select(
            adj.dst.alias("id"), adj.src.alias("parent")
        )
        if exclude is not None:
            candidates = candidates.join(F.broadcast(exclude), "id", "left_anti")
        new = (
            candidates.join(visited, "id", "left_anti")
            .groupBy("id")
            .agg(F.min("parent").alias("parent"))
            .select("id", F.lit(depth).alias("depth"), "parent")
        )
        return visited.unionByName(new).withColumn("_new", F.col("depth") == depth)

    def metrics(depth: int, seen: dict[str, Any], last: dict[str, Any] | None) -> dict[str, Any]:
        return {"level": depth, "new_vertices": 1 if last is None else seen["new_vertices"]}

    try:
        visited, depth, last = ctx.run(
            latest,
            init,
            step,
            max_depth,
            metrics,
            stop=lambda m: m["new_vertices"] == 0,
            feed={"new_vertices": count_true("_new")},
        )
    finally:
        adj.unpersist()
    reached = depth - 1 if last["new_vertices"] == 0 else depth
    return BFSResult(visited, reached, ctx.history)


def spanning_tree_edges(visited: DataFrame) -> DataFrame:
    """(parent, id, depth) rows of the BFS tree — the reference's recursive
    ``_GraphNode`` build (``traverser.py:250-262``, O(V²)) replaced by a
    single projection: the parent pointers ARE the tree."""
    return visited.where(F.col("parent").isNotNull()).select(
        F.col("parent").alias("src"), F.col("id").alias("dst"), "depth"
    )
