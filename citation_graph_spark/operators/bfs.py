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
from citation_graph_spark.operators.superstep import SuperstepContext
from citation_graph_spark.sources.checkpoint import CheckpointManager


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
    resume: bool = True,
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
    """
    spark = edges.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))

    ckpt = None
    if checkpoint_dir is not None:
        ckpt = CheckpointManager(
            spark,
            checkpoint_dir,
            args={
                "algorithm": "bfs_expand",
                "root": str(root),
                "max_depth": max_depth,
                "max_per_src": max_per_src,
            },
        )
    ctx = SuperstepContext(checkpoint=ckpt, durable_every=durable_every)

    adj = edges
    if max_per_src is not None:
        if "pos" not in adj.columns:
            raise ValueError("max_per_src needs a 'pos' column (extraction order)")
        adj = cap_out_degree(adj, max_per_src)
    adj = adj.select("src", "dst").repartition(num_partitions, "src").persist()
    adj.count()

    start_level = 0
    visited = None
    if ckpt is not None and resume:
        from citation_graph_spark.sources.checkpoint import resume_compatible

        latest = ckpt.latest()
        if latest is not None:
            it, state_df, manifest = latest
            if resume_compatible(
                manifest.get("args"), ckpt.args, ignore=("max_depth",)
            ):
                visited = state_df
                start_level = it
                exhausted = manifest["metrics"].get("new_vertices") == 0
                if exhausted or it >= max_depth:
                    # Nothing left to expand (frontier died, or the resumed
                    # state already covers the requested depth).
                    adj.unpersist()
                    visited = visited.where(F.col("depth") <= max_depth)
                    reached = visited.agg(F.max("depth")).first()[0] or 0
                    return BFSResult(visited, int(reached), [])
            else:
                import warnings

                warnings.warn(
                    f"checkpoint at {checkpoint_dir} was written with different "
                    f"args ({manifest.get('args')}) than this call ({ckpt.args}); "
                    "ignoring it and starting fresh",
                    RuntimeWarning,
                    stacklevel=2,
                )

    if visited is None:
        id_type = dict(edges.dtypes)["src"]
        visited = spark.createDataFrame(
            [(root, 0, None)], f"id {id_type}, depth int, parent {id_type}"
        )
        visited, _ = ctx.truncate(visited, 0)
    frontier = visited.where(F.col("depth") == start_level).select("id")

    depth_reached = start_level
    n_new = None
    for depth in range(start_level, max_depth):
        candidates = frontier.join(adj, frontier.id == adj.src).select(
            adj.dst.alias("id"), adj.src.alias("parent")
        )
        if exclude is not None:
            candidates = candidates.join(F.broadcast(exclude), "id", "left_anti")
        new = (
            candidates.join(visited, "id", "left_anti")
            .groupBy("id")
            .agg(F.min("parent").alias("parent"))
            .select("id", F.lit(depth + 1).alias("depth"), "parent")
        )
        visited, _ = ctx.truncate(visited.unionByName(new), depth + 1)
        n_new = visited.where(F.col("depth") == depth + 1).count()
        ctx.record(visited, depth + 1, {"level": depth + 1, "new_vertices": n_new})
        if n_new == 0:
            break
        depth_reached = depth + 1
        frontier = visited.where(F.col("depth") == depth + 1).select("id")

    if ckpt is not None:
        # carry new_vertices into the final manifest: save()'s prune deletes
        # the level that recorded new_vertices=0, so without this a resume
        # of an exhausted run could not detect the dead frontier and would
        # re-execute one wasted empty superstep
        ctx.finish(
            visited, depth_reached, {"final": True, "new_vertices": n_new}
        )
    adj.unpersist()
    return BFSResult(visited, depth_reached, ctx.history)


def spanning_tree_edges(visited: DataFrame) -> DataFrame:
    """(parent, id, depth) rows of the BFS tree — the reference's recursive
    ``_GraphNode`` build (``traverser.py:250-262``, O(V²)) replaced by a
    single projection: the parent pointers ARE the tree."""
    return visited.where(F.col("parent").isNotNull()).select(
        F.col("parent").alias("src"), F.col("id").alias("dst"), "depth"
    )
