"""Neighborhood function & effective diameter — exact twin + HyperANF sketches.

The neighborhood function ``NF(d) = |{(u,v) : v reachable from u in ≤ d
hops}|`` (self-pairs included, ANF convention) is the standard whole-graph
distance summary for web graphs: its saturation point is the effective
diameter (Palmer et al., "ANF"; Boldi & Vigna, "HyperANF"). The reference
never needs it — a crawl bounded by ``max_depth`` sees only one ball
(``src/citation_graph/traverser.py:132-145``) — but an engine holding the
WHOLE link graph should answer "how far apart are pages" without
materializing O(|V|²) distances.

Two formulations, graded like the exact/LSH similarity twins:

- :func:`neighborhood_function_exact` — distinct-pairs frontier expansion
  (``reach_d = reach_{d-1} ∪ (reach_{d-1} ⋈ edges)``). Exact, SQL-
  expressible (green oracle cell), and intentionally the SMALL-SCALE
  baseline: the pair set approaches |V|·|ball| rows and dies at web scale.

- :func:`hyperanf` — the scale path. Each vertex carries ``k`` fixed-size
  Flajolet-Martin bitmask registers (one BIGINT column each; 8·k bytes per
  vertex TOTAL, independent of ball size). One superstep per distance:

      B_d(v) = B_{d-1}(v)  OR  bit_or_{(v,u)∈E} B_{d-1}(u)

  i.e. a merge join of the register frame against the dst-sorted edge
  cache + ``groupBy(src).agg(bit_or(...))`` — map-side partial, all
  JVM-side (``F.bit_or``; no Python in the loop). The per-vertex ball-size
  estimate is ``2^(mean_i ρ_i)/0.77351`` with ``ρ_i`` the index of the
  lowest zero bit of register i (Flajolet-Martin); summed over vertices it
  estimates NF(d) with ~1/√k relative error.

Determinism & oracle: every register transition is integer bit-ORs of
``xxhash64``-seeded initial masks — bit-reproducible across partitionings
and engines. The driver cell returns the per-vertex INTEGER ρ-sums (no
float summation order in the compared values); the initial registers are
materialized to the sidecar store and the DuckDB oracle replays the
``bit_or`` supersteps from it (the xxhash64 seeding itself has no DuckDB
twin — same split as the MinHash/SimHash cells).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import reduce
from typing import Any

from pyspark.sql import DataFrame, functions as F

from citation_graph_spark.edges import vertices_of
from citation_graph_spark.operators.superstep import SuperstepContext

# P(register bit b set) = 2^-(b+1); 32 bits bounds counts ~2^30 — beyond
# that use more registers, not deeper bits (HyperANF §2)
_MAX_BIT = 32
_PHI = 0.77351  # Flajolet-Martin bias correction


def _init_register_exprs(k: int, seed: int) -> list:
    """k initial FM registers per vertex: register i = 1 << (number of
    trailing zeros of xxhash64(id, seed+i), capped). Built-in expressions
    only — `h & -h` isolates the lowest set bit, log2 of an exact power of
    two is exact in a double."""
    outs = []
    for i in range(k):
        h = f"xxhash64(id, {seed + i}) & 4294967295"  # low 32 bits, ≥ 0
        bit = f"(CASE WHEN ({h}) = 0 THEN {_MAX_BIT} ELSE CAST(log2(({h}) & -({h})) AS INT) END)"
        outs.append(F.expr(f"shiftleft(CAST(1 AS BIGINT), {bit})").alias(f"m{i}"))
    return outs


def _rho_sum_expr(k: int):
    """Σ_i index-of-lowest-zero-bit(m_i) — `~m & (m+1)` isolates the lowest
    zero bit (m never has bit 63 set: bits stop at _MAX_BIT)."""
    parts = [f"CAST(log2((~m{i}) & (m{i} + 1)) AS INT)" for i in range(k)]
    return F.expr(" + ".join(parts)).alias("rho_sum")


def estimate_from_rho_sum(rho_sum: int, k: int) -> float:
    """ANF ball-size estimate for one vertex from its integer ρ-sum."""
    return 2.0 ** (rho_sum / k) / _PHI


@dataclass
class HyperAnfResult:
    # (id, d, rho_sum): integer per-vertex register summary per distance
    per_vertex: DataFrame
    # [(d, nf_estimate)]: estimated # pairs within distance ≤ d (self incl.)
    nf: list[tuple[int, float]]
    effective_diameter: int | None  # smallest d with nf(d) ≥ 0.9·nf(max_d)
    history: list[dict[str, Any]] = field(default_factory=list)


def hyperanf(
    edges: DataFrame,
    max_d: int = 6,
    k: int = 16,
    seed: int = 7,
    num_partitions: int | None = None,
    registers_out: str | None = None,
) -> HyperAnfResult:
    """ANF/HyperANF neighborhood-function sketch over directed out-balls.

    ``registers_out``: optional parquet path; when set, the d=0 initial
    registers are written there (the sidecar the SQL oracle replays from).
    """
    spark = edges.sparkSession
    num_partitions = num_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions", "32")
    )
    ctx = SuperstepContext()
    mcols = [f"m{i}" for i in range(k)]

    e = (
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
        # messages flow dst→src (out-ball gathers FROM successors), so the
        # persisted cache is dst-sorted for the per-superstep merge join
        .repartition(num_partitions, "dst")
        .sortWithinPartitions("dst")
        .persist()
    )
    e.count()

    state = vertices_of(edges).select("id", *_init_register_exprs(k, seed))
    if registers_out is not None:
        state.write.mode("overwrite").parquet(registers_out)
        state = spark.read.parquet(registers_out)
    state, _ = ctx.truncate(state, 0)
    state.count()
    ctx.record(state, 0)

    import time as _time

    # d=0 snapshot: |B(v,0)| estimated with the SAME estimator as every
    # other radius, so downstream telescoping sums (harmonic centrality)
    # difference like-with-like (HyperANF §3: centralities use the
    # estimated ball sizes at every d, including 0)
    snap0 = state.select(
        "id", F.lit(0).alias("d"), _rho_sum_expr(k)
    ).localCheckpoint(eager=True)

    per_d: list[DataFrame] = [snap0]
    history: list[dict[str, Any]] = []
    try:
        for d in range(1, max_d + 1):
            _t_iter = _time.time()
            nbr = (
                state.join(e.hint("merge"), state.id == e.dst)
                .groupBy(e.src.alias("id"))
                .agg(*[F.bit_or(c).alias(f"n_{c}") for c in mcols])
            )
            state = state.join(nbr.hint("merge"), "id", "left").select(
                "id",
                *[
                    F.expr(f"m{i} | COALESCE(n_m{i}, CAST(0 AS BIGINT))").alias(
                        f"m{i}"
                    )
                    for i in range(k)
                ],
            )
            state, _ = ctx.truncate(state, d)
            snapshot = state.select("id", F.lit(d).alias("d"), _rho_sum_expr(k))
            snapshot = snapshot.localCheckpoint(eager=True)  # outlives ctx
            per_d.append(snapshot)
            ctx.record(state, d)
            history.append(
                {"d": d, "seconds": round(_time.time() - _t_iter, 3)}
            )

        union = reduce(DataFrame.union, per_d)
        # driver-side estimate: one small agg per d (Σ 2^(rho/k) over v)
        est_rows = (
            union.groupBy("d")
            .agg(
                F.sum(
                    F.pow(F.lit(2.0), F.col("rho_sum") / F.lit(float(k)))
                ).alias("s")
            )
            .collect()
        )
        nf = sorted((r["d"], r["s"] / _PHI) for r in est_rows)
        eff = None
        if nf:
            target = 0.9 * nf[-1][1]
            for d, v in nf:
                if v >= target:
                    eff = d
                    break
        per_vertex = union.localCheckpoint(eager=True)
        for s in per_d:
            try:
                s.unpersist()
            except Exception:
                pass
        return HyperAnfResult(per_vertex, nf, eff, history)
    finally:
        try:
            e.unpersist()
        except Exception:
            pass
        ctx.cleanup()


def harmonic_centrality(per_vertex: DataFrame, k: int) -> DataFrame:
    """Harmonic (closeness) centrality from HyperANF ball sketches —
    HyperBall's headline application (Boldi & Vigna; the technique behind
    the Facebook four-degrees measurement):

        HC(v) = Σ_{d ≥ 1} (|B(v,d)| − |B(v,d−1)|) / d

    i.e. each newly-reached vertex at distance d contributes 1/d, with
    every |B| taken from the SAME FM estimator (the telescoping then
    cancels the estimator's bias to first order). Truncated at the
    sketch's ``max_d`` — for web graphs past the effective diameter the
    increments are ~0.

    ``per_vertex`` is :class:`HyperAnfResult`.per_vertex — (id, d,
    rho_sum) INCLUDING the d=0 rows; ``k`` must match the sketch.

    Shape: ONE conditional-aggregation groupBy pivots the (max_d+1)
    integer ρ-sums into columns, then HC is a single fixed-order
    arithmetic expression per row — cheaper than a window (no per-id
    sort) and DETERMINISTIC to the bit across partitionings (a float
    SUM() over the increments would re-associate with partitioning; the
    expression tree cannot). Input is |V|·(max_d+1) integer rows — tiny
    next to the edge table.
    """
    max_d = per_vertex.agg(F.max("d")).first()[0]
    if max_d is None:
        return per_vertex.select(
            "id", F.lit(0.0).alias("harmonic")
        ).where(F.lit(False))
    if max_d == 0:  # sketch never propagated: HC ≡ 0
        return per_vertex.select("id").distinct().select(
            "id", F.lit(0.0).alias("harmonic")
        )
    pivoted = per_vertex.groupBy("id").agg(
        *[
            F.max(F.when(F.col("d") == d, F.col("rho_sum"))).alias(f"r{d}")
            for d in range(0, max_d + 1)
        ]
    )

    def ball(d):
        return F.pow(F.lit(2.0), F.col(f"r{d}") / F.lit(float(k))) / F.lit(_PHI)

    hc = (ball(1) - ball(0)) / F.lit(1.0)
    for d in range(2, max_d + 1):
        hc = hc + (ball(d) - ball(d - 1)) / F.lit(float(d))
    return pivoted.select("id", hc.alias("harmonic"))


def neighborhood_function_exact(edges: DataFrame, max_d: int = 4) -> DataFrame:
    """Exact NF(d) for d = 1..max_d via distinct-pairs frontier expansion —
    the small-scale baseline (pair set is O(|V|·ball); see module doc).
    Returns (d, pairs), self-pairs included (ANF convention)."""
    e = edges.select("src", "dst").where(F.col("src") != F.col("dst")).distinct()
    verts = vertices_of(edges)
    reach = verts.select(F.col("id").alias("u"), F.col("id").alias("v"))
    rows = []
    spark = edges.sparkSession
    prev = None
    for d in range(1, max_d + 1):
        grown = (
            reach.alias("r")
            .join(e.alias("e"), F.col("r.v") == F.col("e.src"))
            .select(F.col("r.u").alias("u"), F.col("e.dst").alias("v"))
            .union(reach)
            .distinct()
        )
        reach = grown.localCheckpoint(eager=False)
        rows.append((d, reach.count()))
        if prev is not None:
            try:
                prev.unpersist()
            except Exception:
                pass
        prev = reach
    if prev is not None:
        try:
            prev.unpersist()
        except Exception:
            pass
    return spark.createDataFrame(rows, "d int, pairs long")
