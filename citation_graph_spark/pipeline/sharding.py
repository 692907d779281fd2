"""Deterministic dataset sharding for training pipelines.

Two operators a large-scale training-data pipeline needs between cleaning
and writing shards:

- ``deterministic_split`` — reproducible train/val/test assignment by
  hashing a key column. Engine-independent by construction: the bucket is
  the first 8 hex chars of ``md5(key ":" salt)`` compared against
  precomputed hex thresholds, so the same row lands in the same split in
  Spark, DuckDB, or plain Python, forever. No RNG, no ordering
  dependence, no shuffle (a narrow projection — the predicate pushes all
  the way down when a split is filtered).

- ``pack_token_bins`` — assign documents to fixed-token-budget bins
  (sequence-packing shards): running token total in ``doc_id`` order,
  ``bin_id = floor(exclusive_cumsum / budget)``. Deterministic and
  restart-stable. The reference implementation uses one global window
  sort; at 10^12 docs replace it with the two-pass range-partition +
  per-partition offsets scheme of ``edges.vertex_dictionary`` (same
  algebra: cumulative sums need only per-partition totals on the driver).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from citation_graph_spark.pipeline.text import token_count
from citation_graph_spark.session import partition_count

_HEX_SPACE = 16**8


def split_thresholds(weights: dict[str, float]) -> list[tuple[str, str]]:
    """[(name, upper_hex_bound)] with cumulative 8-hex-digit bounds; the
    last split absorbs rounding (bound 'ffffffff'+1 sentinel handled by
    the final otherwise)."""
    total = float(sum(weights.values()))
    if total <= 0:
        raise ValueError("weights must sum to > 0")
    out = []
    acc = 0.0
    for name, w in weights.items():
        acc += w / total
        out.append((name, format(min(int(acc * _HEX_SPACE), _HEX_SPACE - 1), "08x")))
    return out


def split_bucket(key: Column, salt: str = "split") -> Column:
    """First 8 lowercase-hex chars of md5(key ":" salt) — the comparable
    bucket string (md5 hex is identical in Spark/DuckDB/python)."""
    return F.substring(F.md5(F.concat(key.cast("string"), F.lit(":" + salt))), 1, 8)


def deterministic_split(
    docs: DataFrame,
    weights: dict[str, float] | None = None,
    key_col: str = "doc_id",
    salt: str = "split",
) -> DataFrame:
    """Input plus a ``split`` column ('train'/'val'/... per ``weights``).

    Assignment is a pure function of (key, salt): stable across runs,
    partitionings, engines, and corpus growth (adding documents never
    reassigns existing ones — the property RNG-based splits lack)."""
    if weights is None:
        weights = {"train": 0.9, "val": 0.05, "test": 0.05}
    bucket = split_bucket(F.col(key_col), salt)
    bounds = split_thresholds(weights)
    expr = None
    for name, bound in bounds[:-1]:
        cond = bucket < F.lit(bound)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    last = F.lit(bounds[-1][0])
    expr = last if expr is None else expr.otherwise(last)
    return docs.withColumn("split", expr)


def pack_token_bins(
    docs: DataFrame,
    budget_tokens: int = 2048,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, n_tokens, bin_id): documents in ``id_col`` order packed
    into bins of ~``budget_tokens`` cumulative whitespace-ish tokens.

    bin boundaries use the EXCLUSIVE running sum, so a document starts a
    new bin only when the previous ones already filled the budget — a
    single over-budget document still gets a bin (never dropped)."""
    if budget_tokens <= 0:
        raise ValueError("budget_tokens must be positive")
    n = token_count(F.col(text_col)).alias("n_tokens")
    w = Window.orderBy(id_col).rowsBetween(Window.unboundedPreceding, -1)
    cum_before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return (
        docs.select(id_col, n)
        .withColumn("bin_id", F.floor(cum_before / F.lit(budget_tokens)))
    )


def pack_token_bins_scalable(
    docs: DataFrame,
    budget_tokens: int = 2048,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_partitions: int | None = None,
) -> DataFrame:
    """Same contract and bit-identical output as :func:`pack_token_bins`,
    without the global window (which funnels every row through ONE task).

    Two-pass running sum, the same scheme as ``edges.vertex_dictionary``:

      1. range-repartition + sort by ``id_col`` (a distributed sort:
         partition i holds the i-th id range),
      2. one tiny driver action collects per-partition TOKEN TOTALS →
         cumulative offsets (|partitions| numbers, not |rows|),
      3. a narrow Arrow ``mapInPandas`` pass assigns
         ``bin_id = floor((offset[pid] + local_exclusive_cumsum)/budget)``.

    Every partition works independently; driver data is one number per
    partition. This is the 10^12-doc path; the window formulation stays
    as the oracle-checkable reference semantics."""
    if budget_tokens <= 0:
        raise ValueError("budget_tokens must be positive")
    spark = docs.sparkSession
    num_partitions = partition_count(spark, num_partitions)
    base = docs.select(
        F.col(id_col), token_count(F.col(text_col)).alias("n_tokens")
    )
    parted = (
        base.repartitionByRange(num_partitions, id_col)
        .sortWithinPartitions(id_col)
        .withColumn("pid", F.spark_partition_id())
        .persist()
    )
    try:
        totals = {
            r["pid"]: r["t"]
            for r in parted.groupBy("pid").agg(F.sum("n_tokens").alias("t")).collect()
        }
        offsets: dict[int, int] = {}
        acc = 0
        for pid in sorted(totals):
            offsets[pid] = acc
            acc += int(totals[pid])

        def assign(batches):
            import pandas as pd

            consumed = 0
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                start = offsets[int(pdf["pid"].iloc[0])] + consumed
                counts = pdf["n_tokens"].to_numpy()
                cum_before = start + counts.cumsum() - counts
                consumed += int(counts.sum())
                yield pd.DataFrame(
                    {
                        id_col: pdf[id_col],
                        "n_tokens": pdf["n_tokens"],
                        "bin_id": cum_before // budget_tokens,
                    }
                )

        id_type = base.schema[id_col].dataType.simpleString()
        out = parted.mapInPandas(
            assign, f"{id_col} {id_type}, n_tokens int, bin_id long"
        )
        # materialize before unpersisting: mapInPandas reads the cached
        # range-partitioned blocks whose pids the offsets were built from
        return out.localCheckpoint(eager=True)
    finally:
        parted.unpersist()
