"""Edge-table construction and layout.

The reference keeps adjacency as a per-vertex ordered list of citing-paper
ids (``src/citation_graph/database.py:12-18``). At scale that is one edge
DataFrame ``(src, dst, pos)`` built once from the pages table and reused by
every superstep — the analog of the reference's response cache (its "never
re-fetch" memoization, ``database.py:201-238``).

Scale decisions, made explicit here:

- **Dedup** keeps the first occurrence (min ``pos``) per (src, dst) — the
  reference's first-wins insert semantics (``traverser.py:97-107``).
- **Vertex encoding**: string urls → long ids. Default is ``xxhash64(url)``
  — deterministic, shuffle-free, and collision-safe enough for rank/degree
  analytics (expected collisions ≈ n²/2⁶⁵). For exact-id workloads there is
  a dictionary mode (dense ids via a sorted window) — costs one global sort,
  so it is opt-in.
- **Layout**: edges are hash-repartitioned on ``src`` and persisted (or
  written ``bucketBy(src)`` sorted by (src, dst) — CSR-style), so every
  superstep's frontier⋈edges join reuses the same partitioning and only the
  (small) rank/frontier side shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from citation_graph_spark.session import partition_count

def dedup_edges(raw: DataFrame) -> DataFrame:
    """(src, dst, pos)* → one row per (src, dst), keeping min pos.

    ``min(pos)`` under groupBy gets map-side partial aggregation — cheaper
    and deterministic vs ``dropDuplicates`` (which keeps an arbitrary row).
    """
    return raw.groupBy("src", "dst").agg(F.min("pos").alias("pos"))


def cap_out_degree(edges: DataFrame, max_per_src: int) -> DataFrame:
    """Per-src fan-out cap in extraction order — the reference's
    ``max_citations_per_paper`` (default 300, ``citation_graph.py:32``) as
    the canonical top-k-per-key window (SURVEY.md W1)."""
    w = Window.partitionBy("src").orderBy(F.col("pos").asc(), F.col("dst").asc())
    return (
        edges.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= max_per_src)
        .drop("_rn")
    )


def encode_vertices_hash(edges: DataFrame) -> DataFrame:
    """String endpoints → long ids via xxhash64. No shuffle, no dictionary;
    the 10^12-scale default."""
    return edges.select(
        F.xxhash64("src").alias("src"),
        F.xxhash64("dst").alias("dst"),
        "pos",
    )


def vertex_dictionary(edges: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """Exact dense dictionary url → id ∈ [0, |V|).

    ids are assigned by url order so the mapping is deterministic across
    runs/partitionings. Scale shape is the classic two-pass dense-id
    assignment — NOT a global ``Window.orderBy`` (which funnels all |V|
    rows through one task):

      1. range-repartition + sort-within-partition by url (a distributed
         sort: partition i holds the i-th url range),
      2. one tiny driver action collects per-partition row counts →
         cumulative offsets (|partitions| rows, not |V|),
      3. a narrow Arrow ``mapInPandas`` pass assigns
         ``id = offset[partition] + local_row_number``.

    Every partition works independently; the only driver data is the
    offset table. Opt-in (one range shuffle + sort); used where exact
    dense ids matter (e.g., array-indexed post-processing)."""
    spark = edges.sparkSession
    num_partitions = partition_count(spark, num_partitions)
    verts = (
        edges.select(F.col("src").alias("url"))
        .unionByName(edges.select(F.col("dst").alias("url")))
        .distinct()
    )
    parted = (
        verts.repartitionByRange(num_partitions, "url")
        .sortWithinPartitions("url")
        .withColumn("pid", F.spark_partition_id())
        .persist()
    )
    try:
        counts = {
            r["pid"]: r["n"]
            for r in parted.groupBy("pid").agg(F.count("*").alias("n")).collect()
        }
        offsets: dict[int, int] = {}
        acc = 0
        for pid in sorted(counts):
            offsets[pid] = acc
            acc += counts[pid]

        def assign(batches):
            import pandas as pd

            local = 0
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                base = offsets[int(pdf["pid"].iloc[0])]
                ids = range(base + local, base + local + len(pdf))
                local += len(pdf)
                yield pd.DataFrame({"url": pdf["url"], "id": list(ids)})

        url_type = verts.schema["url"].dataType.simpleString()
        out = parted.mapInPandas(assign, f"url {url_type}, id long")
        # materialize before unpersisting: mapInPandas reads the cached
        # range-partitioned blocks, whose pids the offsets were built from
        out = out.localCheckpoint(eager=True)
    finally:
        parted.unpersist()
    return out


def encode_vertices_dict(edges: DataFrame, dictionary: DataFrame) -> DataFrame:
    d_src = dictionary.withColumnRenamed("url", "src").withColumnRenamed("id", "_sid")
    d_dst = dictionary.withColumnRenamed("url", "dst").withColumnRenamed("id", "_did")
    return (
        edges.join(d_src, "src")
        .join(d_dst, "dst")
        .select(F.col("_sid").alias("src"), F.col("_did").alias("dst"), "pos")
    )


def build_edges(
    pages: DataFrame,
    max_per_src: int | None = None,
    encode: str = "hash",
    num_partitions: int | None = None,
    observation=None,
    max_html_bytes: int | None = None,
) -> DataFrame:
    """pages → deduped, capped, encoded, src-partitioned edge DataFrame.

    The returned frame is hash-partitioned on ``src`` so downstream
    superstep joins co-locate without re-shuffling the big side.

    ``observation`` / ``max_html_bytes`` thread through to
    ``pages_to_raw_edges``: pass a ``pyspark.sql.Observation`` to read
    ``malformed_pages`` / ``pages_scanned`` off the ingest scan (no extra
    pass) — the 100 TB error-tolerance channel.
    """
    from citation_graph_spark.extract import pages_to_raw_edges

    edges = dedup_edges(
        pages_to_raw_edges(
            pages, observation=observation, max_html_bytes=max_html_bytes
        )
    )
    if max_per_src is not None:
        edges = cap_out_degree(edges, max_per_src)
    if encode == "hash":
        edges = encode_vertices_hash(edges)
    elif encode == "dict":
        edges = encode_vertices_dict(edges, vertex_dictionary(edges))
    elif encode != "none":
        raise ValueError(f"unknown encode mode {encode!r}")
    if num_partitions:
        edges = edges.repartition(num_partitions, "src")
    else:
        edges = edges.repartition("src")
    return edges


def write_bucketed(edges: DataFrame, table: str, buckets: int = 64) -> None:
    """Durable CSR-style layout: bucketed by src, sorted by (src, dst).

    Later joins/aggregations on ``src`` read bucket-local data with no
    shuffle. (Needs a warehouse-backed saveAsTable; tests use the in-memory
    persisted path instead.)"""
    (
        edges.write.mode("overwrite")
        .bucketBy(buckets, "src")
        .sortBy("src", "dst")
        .format("parquet")
        .saveAsTable(table)
    )


def out_degrees(edges: DataFrame) -> DataFrame:
    """(src, out_degree) — the reference's per-parent citation count
    (``traverser.py:109-116``) as a hash aggregation (map-side partials)."""
    return edges.groupBy("src").agg(F.count("*").alias("out_degree"))


def in_degrees(edges: DataFrame) -> DataFrame:
    return edges.groupBy("dst").agg(F.count("*").alias("in_degree"))


def degrees(edges: DataFrame) -> DataFrame:
    """Full degree table over all vertices (dangling included)."""
    out_d = out_degrees(edges).withColumnRenamed("src", "id")
    in_d = in_degrees(edges).withColumnRenamed("dst", "id")
    return (
        out_d.join(in_d, "id", "full_outer")
        .select(
            "id",
            F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
            F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
        )
    )


def vertices_of(edges: DataFrame) -> DataFrame:
    """Distinct vertex ids appearing as src or dst."""
    return (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )


def symmetrize(edges: DataFrame) -> DataFrame:
    """Undirected view: each edge in both directions, self-loops dropped,
    deduped. Input to CC / LPA / triangles."""
    fwd = edges.select("src", "dst")
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    return fwd.unionByName(rev).where(F.col("src") != F.col("dst")).distinct()
