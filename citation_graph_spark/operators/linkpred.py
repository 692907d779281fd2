"""Neighborhood-overlap link prediction — common neighbors, Jaccard,
Adamic-Adar — as one wedge join + aggregate.

The classic "papers that should cite each other" / "pages that should
link" scoring over the undirected link graph: for every non-adjacent
candidate pair (a, b) sharing at least ``min_common`` neighbours,

    common(a,b)      = |N(a) ∩ N(b)|
    jaccard(a,b)     = common / (deg(a) + deg(b) − common)
    adamic_adar(a,b) = Σ_{z ∈ N(a)∩N(b)} 1 / ln(deg(z))

(The reference surfaces related-paper structure only implicitly through
shared citations in its HTML graph view; this operator is that signal as
a first-class scored table.)

Scale shape (what runs on 1000 executors):
- candidate pairs are generated by the wedge join through the common
  neighbour z: ``sym ⋈ sym on src=z`` with ``dst_a < dst_b`` — an
  equi-join on the symmetrized edge table partitioned by src, then ONE
  groupBy(a, b) with map-side partials computes all three scores (the
  Adamic-Adar term rides along as sum(1/ln(deg z))).
- wedge volume is Σ_z deg(z)², quadratic in hub degree — the same skew
  failure the dedup family guards with ``max_df`` / ``max_bucket``.
  ``max_center_degree`` is that guard here: wedge centers with degree >
  cap generate NO wedges (dropped + counted, disclosed to the caller via
  the ``dropped_centers`` attribute of the result). Ultra-hub centers
  carry almost no signal anyway (Adamic-Adar already downweights by
  1/ln deg); with the cap, ``common``/``adamic_adar`` count only common
  neighbours with deg ≤ cap and ``jaccard`` (full-degree denominator)
  becomes a lower bound — documented, deterministic, SQL-expressible.
- existing edges are removed with an anti-join against the symmetrized
  table; degrees rejoin for the Jaccard denominator.

No iteration; the whole operator is one Catalyst plan. The persisted
symmetrized table (referenced by the wedge join, the anti-join and the
degree joins) is released when the returned scores frame is
garbage-collected (``release_on_gc`` — see caching.py for the
derived-frame pitfall: keep the returned frame alive until your last
action on anything derived from it).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

from citation_graph_spark.caching import release_on_gc
from citation_graph_spark.edges import symmetrize
from citation_graph_spark.session import partition_count


@dataclass
class LinkPredictionResult:
    scores: DataFrame  # (a, b, common, jaccard, adamic_adar), a < b
    dropped_centers: int  # wedge centers excluded by max_center_degree


def link_prediction_scores(
    edges: DataFrame,
    min_common: int = 1,
    max_center_degree: int | None = None,
    num_partitions: int | None = None,
) -> LinkPredictionResult:
    """Score non-adjacent vertex pairs by neighbourhood overlap.

    Returns pairs with ``common ≥ min_common`` over the symmetrized,
    deduped, self-loop-free view of ``edges``; ``a < b`` in every row.
    ``max_center_degree``: see the module docstring — the skew cap every
    100 TB deployment needs; ``None`` means uncapped (small graphs /
    exactness baseline)."""
    spark = edges.sparkSession
    num_partitions = partition_count(spark, num_partitions)
    sym = symmetrize(edges).repartition(num_partitions, "src").persist()
    deg = sym.groupBy("src").agg(F.count("*").alias("deg"))

    centers = sym.join(deg, "src").select(
        F.col("src").alias("z"),
        F.col("dst").alias("nbr"),
        F.col("deg").alias("zdeg"),
    )
    dropped = 0
    if max_center_degree is not None:
        dropped = deg.where(F.col("deg") > max_center_degree).count()
        centers = centers.where(F.col("zdeg") <= max_center_degree)

    # wedge join through z; a < b gives each unordered pair once
    left = centers.select("z", F.col("nbr").alias("a"), "zdeg")
    right = centers.select(F.col("z").alias("z2"), F.col("nbr").alias("b"))
    wedges = left.join(
        right, (F.col("z") == F.col("z2")) & (F.col("a") < F.col("b"))
    )
    scored = wedges.groupBy("a", "b").agg(
        F.count("*").alias("common"),
        F.sum(F.lit(1.0) / F.log(F.col("zdeg").cast("double"))).alias("aa_raw"),
    )
    if min_common > 1:
        scored = scored.where(F.col("common") >= min_common)

    # drop pairs that are already edges (sym carries both directions, so
    # one directed probe suffices)
    existing = sym.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    cand = scored.join(existing, ["a", "b"], "left_anti")

    # full (uncapped) degrees for the Jaccard denominator
    da = deg.select(F.col("src").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("src").alias("b"), F.col("deg").alias("deg_b"))
    out = (
        cand.join(da, "a")
        .join(db, "b")
        .select(
            "a",
            "b",
            "common",
            (
                F.col("common")
                / (F.col("deg_a") + F.col("deg_b") - F.col("common")).cast(
                    "double"
                )
            ).alias("jaccard"),
            F.col("aa_raw").alias("adamic_adar"),
        )
    )
    return LinkPredictionResult(release_on_gc(out, sym), dropped)
