"""Random-walk corpus generation — the DeepWalk/node2vec sampling pass,
as deterministic walk supersteps.

Graph-embedding pipelines (DeepWalk, node2vec, PinSage-style) train
skip-gram models on a corpus of short random walks; at web scale the walk
generation IS the heavy job — |V| simultaneous walkers × L steps over a
10^12-edge table. This operator runs every walker in one frame: step t is
a single frontier⋈edges join + argmin aggregation, so L steps = L
supersteps regardless of walker count (the same scale contract as BFS —
SMJ/shuffle-hash against the edge table, map-side partial aggregation,
AQE skew-split for hub vertices, lineage truncated per step).

**Determinism instead of RNG.** Each walker picks the out-neighbor
minimizing an affine modular hash h(seed, walk, step, dst) over the prime
p = 2^31−1 (ties broken by smallest dst). Pseudo-uniform per step, and —
unlike ``rand()`` — reproducible across retries, partitionings, AND
engines: every term stays below 2^63 in plain int64 arithmetic, so a SQL
replay produces the identical corpus bit for bit (``rand()`` in a task
that gets retried is a silent corpus fork at scale; a seeded hash is the
production-safe choice). Walks stop early at sinks (no out-edges).

The reference has no sampling analog (its traversal enumerates
exhaustively, ``src/citation_graph/traverser.py:132-145``); contract
documented here.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, functions as F

from citation_graph_spark.operators.superstep import local_checkpoint, release

_P = 2_147_483_647  # 2^31 - 1 (prime)
_K1 = 1_103_515_245
_K2 = 12_345
_K3 = 2_654_435_761
_K4 = 48_271


def _seed_mult(seed: int) -> int:
    """Per-seed multiplier for the final modular multiply. The seed MUST
    enter multiplicatively: an additive seed shifts every candidate's hash
    by the same constant, which is a tiny cyclic rotation of the ordering
    — measured to change ~1e-4 of picks per seed increment. A distinct
    multiplier genuinely re-permutes the ordering. Bounded < 2^31 so the
    multiply below stays int64-exact; never ≡ 0 (mod p) by construction."""
    return _K4 + (seed * _K3) % 1_000_000_007


def _step_hash(walk: F.Column, step: int, dst: F.Column, seed: int) -> F.Column:
    """Modular mix, int64-safe at every intermediate:
    h = (((dst%p)·K1 + (walk%p)·K2 + step·K3) % p · seed_mult) % p."""
    mix = (
        F.pmod(dst, F.lit(_P)) * F.lit(_K1)
        + F.pmod(walk, F.lit(_P)) * F.lit(_K2)
        + F.lit(step * _K3)
    )
    return F.pmod(F.pmod(mix, F.lit(_P)) * F.lit(_seed_mult(seed)), F.lit(_P))


@dataclass
class WalkResult:
    corpus: DataFrame  # (walk, step, id) — step 0 is the start vertex
    n_walks: int
    walk_length: int
    history: list[dict[str, Any]]


def random_walks(
    edges: DataFrame,
    starts: DataFrame | None = None,
    walk_length: int = 8,
    seed: int = 0,
) -> WalkResult:
    """Generate one walk per start vertex (default: every distinct source)
    of ``walk_length`` steps (see module doc for the chooser semantics).

    ``starts``: single-column DataFrame of start ids; the walk id IS the
    start vertex id (one walk per start — run again with a different seed
    for more walks per vertex, the standard epoch pattern).
    """
    e = (
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .persist()
    )
    e.count()
    if starts is None:
        starts = e.select(F.col("src").alias("start")).distinct()
    start_col = starts.columns[0]
    walkers = starts.select(F.col(start_col).alias("walk"), F.col(start_col).alias("id"))
    state, seen = local_checkpoint(walkers, n=F.count(F.lit(1)))
    n_walks = seen["n"]

    # every step frame must stay alive until the final union materializes
    # (a localCheckpoint is not recomputable), so this manages its own
    # eager checkpoints instead of SuperstepContext's keep-only-latest
    steps: list[DataFrame] = [state]
    history: list[dict[str, Any]] = []
    try:
        for t in range(1, walk_length + 1):
            cand = state.join(e, state["id"] == e["src"]).select(
                "walk",
                F.struct(
                    _step_hash(F.col("walk"), t, F.col("dst"), seed).alias("h"),
                    F.col("dst").alias("v"),
                ).alias("hv"),
            )
            nxt, seen = local_checkpoint(
                cand.groupBy("walk")
                .agg(F.min("hv").alias("hv"))
                .select("walk", F.col("hv.v").alias("id")),
                n=F.count(F.lit(1)),
            )
            n = seen["n"]
            history.append({"step": t, "walkers": n})
            if n == 0:
                release(nxt)
                break
            steps.append(nxt)
            state = nxt
        corpus = steps[0].select("walk", F.lit(0).alias("step"), "id")
        for t, fr in enumerate(steps[1:], start=1):
            corpus = corpus.unionByName(
                fr.select("walk", F.lit(t).alias("step"), "id")
            )
        corpus = corpus.localCheckpoint(eager=True)
        return WalkResult(
            corpus=corpus,
            n_walks=n_walks,
            walk_length=walk_length,
            history=history,
        )
    finally:
        for fr in steps:
            release(fr)
        e.unpersist()
