"""The workloads: their inputs, one timed repetition, and its check.

Each workload is an object with

- ``generate(spark, seed, size, path)``: writes seeded inputs as parquet,
- ``repetition(ctx, inp, warm)``: one timed run through the public package
  API; returns a ``Rep`` with the call walls and the collected outputs,
- ``e2e(rep, n_edges)``: the north-rule metrics of a repetition,
- ``oracle(inp)``: the single-process expected outputs (cached per seed),
- ``check(rep, oracle)``: raises ``CheckFailed`` on a wrong output.

``warm=True`` runs the same calls on the same input with short iteration
caps, so every plan shape is compiled before the timed runs.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np

from perfbench import oracle as orc

PAGERANK_TOL = 1e-6
DURABLE_EVERY = 2
LPA_ROUNDS = 3


class CheckFailed(Exception):
    pass


@dataclass
class Rep:
    """One repetition: its wall, per-site walls and what it produced."""

    job_s: float = 0.0
    walls: dict[str, float] = field(default_factory=dict)
    out: dict = field(default_factory=dict)
    counts: dict[str, float] = field(default_factory=dict)


@dataclass
class Inputs:
    path: str
    seed: int
    size: int
    n_edges: int = 0


@dataclass
class Ctx:
    spark: object
    sites: object  # trace.Sites
    work: str  # dir for outputs and checkpoint dirs


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(root, name))
    return total


def _parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetDataset(path).read(columns=[]).num_rows


def _columns(path: str, columns=("src", "dst")) -> list[np.ndarray]:
    import pyarrow.parquet as pq

    table = pq.ParquetDataset(path).read(columns=list(columns))
    return [table.column(c).to_numpy() for c in columns]


def _by_id(pdf, value: str) -> tuple[np.ndarray, np.ndarray]:
    pdf = pdf.sort_values("id")
    return pdf["id"].to_numpy(), pdf[value].to_numpy()


def _graph_oracle(src, dst, components: bool) -> dict:
    """PageRank oracle, plus components and LPA labels if asked."""
    ids, ranks, iters = orc.pagerank(src, dst, tol=PAGERANK_TOL)
    want = {"ids": ids, "pr_ranks": ranks, "pr_iters": iters}
    if components:
        cc_ids, want["cc"] = orc.components(src, dst)
        lp_ids, want["lpa"] = orc.label_propagation(src, dst, LPA_ROUNDS)
        if not (np.array_equal(ids, cc_ids) and np.array_equal(ids, lp_ids)):
            raise RuntimeError("oracle vertex sets disagree")
    return want


def _check_graph(rep: Rep, want: dict, what: str) -> None:
    """PageRank: the power iteration's superstep count and ranks within
    1e-6 relative per vertex; components and LPA labels exact."""
    if rep.out["pagerank_iterations"] != want["pr_iters"]:
        raise CheckFailed(
            f"{what} pagerank: {rep.out['pagerank_iterations']} supersteps, "
            f"oracle {want['pr_iters']}"
        )
    ids, ranks = _by_id(rep.out["ranks"], "rank")
    if not (np.array_equal(ids, want["ids"])
            and np.allclose(ranks, want["pr_ranks"], rtol=1e-6, atol=0)):
        raise CheckFailed(f"{what} pagerank: ranks differ from the power iteration")
    for key in ("cc", "lpa"):
        if key in rep.out:
            ids, labels = _by_id(rep.out[key], "label")
            if not (np.array_equal(ids, want["ids"]) and np.array_equal(labels, want[key])):
                raise CheckFailed(f"{what} {key}: labels differ from the oracle")


def _prepare(ctx: Ctx, rep: Rep, path: str, symmetrized: bool = True):
    """Read an edge table and build its PreparedGraph, one site per table
    (PageRank alone needs no symmetrized view)."""
    from citation_graph_spark.operators.prepared import PreparedGraph

    edges = ctx.spark.read.parquet(path)
    pg = PreparedGraph(edges)
    with ctx.sites.call("prepared.weighted_edges", rep.walls):
        pg.weighted_edges(0)
    with ctx.sites.call("prepared.dangling_flagged", rep.walls):
        pg.dangling_flagged()
    if symmetrized:
        with ctx.sites.call("prepared.symmetrized", rep.walls):
            pg.symmetrized()
    return edges, pg


def _manifests(path: str) -> int:
    from citation_graph_spark.sources.checkpoint import _MANIFEST

    return sum(1 for _root, _dirs, files in os.walk(path) if _MANIFEST in files)


class Ingest:
    """Crawled pages -> deduped, capped, hash-encoded edge table; then
    PageRank on that table, stopped early with checkpointing on and resumed
    from its checkpoint dir."""

    name = "ingest"
    min_reps = 3
    resume_reps = 2  # resume steps after the window; their metrics are medians
    max_per_src = 300
    # links per page up to 60 (datagen's default is 20): a denser page graph
    # mixes faster, so PageRank needs fewer supersteps per run
    max_links = 60
    resumed_steps = 5

    def generate(self, spark, seed: int, size: int, path: str) -> Inputs:
        from citation_graph_spark import datagen

        datagen.generate_pages(spark, size, seed=seed, max_links=self.max_links).write.mode(
            "overwrite"
        ).parquet(path)
        return Inputs(path, seed, size)

    def repetition(self, ctx: Ctx, inp: Inputs, warm: bool) -> Rep:
        from citation_graph_spark.edges import build_edges

        rep = Rep()
        out = os.path.join(ctx.work, "edges")
        t0 = time.perf_counter()
        with ctx.sites.call("edges", rep.walls):
            pages = ctx.spark.read.parquet(inp.path)
            build_edges(pages, max_per_src=self.max_per_src).write.mode(
                "overwrite"
            ).parquet(out)
        rep.job_s = time.perf_counter() - t0
        rep.out["edges_dir"] = out
        if ctx.sites.traced:
            self._extract_counts(ctx, rep, inp)
            rep.counts["edges.rows_out"] = _parquet_rows(out)
        return rep

    def _extract_counts(self, ctx: Ctx, rep: Rep, inp: Inputs) -> None:
        """Traced runs only: the extraction pass alone, to the noop sink,
        with its page, link and malformed-page counts."""
        from pyspark.sql import Observation, functions as F

        from citation_graph_spark.extract import pages_to_raw_edges

        scan, links = Observation("extract_scan"), Observation("extract_links")
        with ctx.sites.call("extract", rep.walls):
            raw = pages_to_raw_edges(ctx.spark.read.parquet(inp.path), observation=scan)
            raw.observe(links, F.count("*").alias("links")).write.format("noop").mode(
                "overwrite"
            ).save()
        rep.counts["extract.pages"] = scan.get["pages_scanned"]
        rep.counts["extract.malformed_pages"] = scan.get["malformed_pages"]
        rep.counts["extract.links"] = links.get["links"]

    def resume(self, ctx: Ctx, edges_dir: str, supersteps: int | None) -> Rep:
        """The north-rule step on the ingested edge table: PageRank to 1e-6
        stopped ``resumed_steps`` supersteps before it converges, then
        resumed by a second call with the same checkpoint dir.

        ``supersteps`` is the oracle's count to convergence, so every seed
        leaves the resuming call the same work; ``None`` is the warm-up,
        with caps of 1 and 2 supersteps."""
        from citation_graph_spark.operators.pagerank import pagerank
        from citation_graph_spark.sources.checkpoint import CheckpointManager

        rep = Rep()
        ckpt = os.path.join(ctx.work, "ckpt-pagerank")
        shutil.rmtree(ckpt, ignore_errors=True)
        first_cap, cap = (1, 2) if supersteps is None else (
            supersteps - self.resumed_steps, 100
        )
        args = dict(tol=PAGERANK_TOL, checkpoint_dir=ckpt, durable_every=DURABLE_EVERY)
        _edges, pg = _prepare(ctx, rep, edges_dir, symmetrized=False)
        try:
            with ctx.sites.call("pagerank.first", rep.walls):
                pagerank(prepared=pg, max_iter=first_cap, **args)
            rep.counts["checkpoint.saves"] = _manifests(ckpt)
            rep.counts["checkpoint.bytes_written"] = dir_bytes(ckpt)
            with ctx.sites.call("pagerank.resumed", rep.walls):
                pr = pagerank(prepared=pg, max_iter=cap, **args)
                rep.out["ranks"] = pr.ranks.toPandas()
            if ctx.sites.traced:
                t0 = time.perf_counter()
                CheckpointManager(ctx.spark, ckpt).latest()
                rep.counts["checkpoint.latest.wall_s"] = time.perf_counter() - t0
        finally:
            pg.unpersist()
            shutil.rmtree(ckpt, ignore_errors=True)
        rep.out["pagerank_iterations"] = pr.iterations
        rep.counts["pagerank.supersteps"] = pr.iterations
        return rep

    @staticmethod
    def e2e(rep: Rep, n_edges: int) -> dict[str, float]:
        """North-rule metrics of the ``resume`` step."""
        w = rep.walls
        pr_wall = w["pagerank.first"] + w["pagerank.resumed"]
        return {"pagerank_edges_per_s": n_edges * rep.out["pagerank_iterations"] / pr_wall,
                "resume_s": w["pagerank.resumed"]}

    def oracle(self, inp: Inputs) -> dict:
        raw_links, edges = orc.ingest_edges(inp.size, inp.seed, self.max_links, self.max_per_src)
        return {"raw_links": raw_links, "edges": edges,
                **_graph_oracle(edges[:, 0], edges[:, 1], components=False)}

    def check(self, rep: Rep, want: dict) -> None:
        if "edges_dir" in rep.out:
            got = orc.sort_rows(np.stack(_columns(rep.out["edges_dir"], ("src", "dst", "pos")), 1))
            if not np.array_equal(got, want["edges"]):
                raise CheckFailed(
                    f"ingest: {len(got)} edges, oracle {len(want['edges'])}, or rows differ"
                )
            if rep.counts.get("extract.links", want["raw_links"]) != want["raw_links"]:
                raise CheckFailed("ingest: extracted link count differs from the oracle")
        else:
            _check_graph(rep, want, "resumed")


class Analytics:
    """One PreparedGraph, then the four north-rule algorithms on it; no
    checkpoint dir."""

    name = "analytics"
    min_reps = 3

    def generate(self, spark, seed: int, size: int, path: str) -> Inputs:
        """A power-law edge table of ``size`` edges over ``size // 30``
        vertices: dense enough that PageRank converges in about 9 supersteps
        (16 at ``size // 6``), which keeps a repetition short."""
        from citation_graph_spark import datagen

        datagen.zipf_edges(spark, max(size // 30, 16), size, seed=seed).write.mode(
            "overwrite"
        ).parquet(path)
        return Inputs(path, seed, size, _parquet_rows(path))

    def repetition(self, ctx: Ctx, inp: Inputs, warm: bool) -> Rep:
        from citation_graph_spark.operators.components import connected_components
        from citation_graph_spark.operators.label_propagation import label_propagation
        from citation_graph_spark.operators.pagerank import pagerank
        from citation_graph_spark.operators.triangles import triangle_count

        rep = Rep()
        pr_cap, cc_cap, lpa_rounds = (2, 1, 1) if warm else (100, 50, LPA_ROUNDS)
        t0 = time.perf_counter()
        edges, pg = _prepare(ctx, rep, inp.path)
        try:
            with ctx.sites.call("pagerank", rep.walls):
                pr = pagerank(prepared=pg, tol=PAGERANK_TOL, max_iter=pr_cap)
                rep.out["ranks"] = pr.ranks.toPandas()
            with ctx.sites.call("components", rep.walls):
                cc = connected_components(prepared=pg, max_iter=cc_cap)
                rep.out["cc"] = cc.labels.toPandas()
            with ctx.sites.call("label_propagation", rep.walls):
                lp = label_propagation(prepared=pg, max_iter=lpa_rounds)
                rep.out["lpa"] = lp.labels.toPandas()
            with ctx.sites.call("triangles", rep.walls):
                rep.out["triangles"] = triangle_count(edges)
        finally:
            pg.unpersist()
        rep.job_s = time.perf_counter() - t0
        rep.out["pagerank_iterations"] = pr.iterations
        rep.counts.update({
            "pagerank.supersteps": pr.iterations,
            "components.supersteps": cc.iterations,
            "label_propagation.supersteps": lp.iterations,
            "triangles.count": rep.out["triangles"],
        })
        return rep

    @staticmethod
    def e2e(rep: Rep, n_edges: int) -> dict[str, float]:
        """Without a checkpoint, getting the PageRank output back after an
        interruption means running the whole call again."""
        wall = rep.walls["pagerank"]
        return {"pagerank_edges_per_s": n_edges * rep.out["pagerank_iterations"] / wall,
                "resume_s": wall}

    def oracle(self, inp: Inputs) -> dict:
        src, dst = _columns(inp.path)
        return {**_graph_oracle(src, dst, components=True),
                "triangles": orc.triangles(os.path.join(inp.path, "*.parquet"))}

    def check(self, rep: Rep, want: dict) -> None:
        _check_graph(rep, want, "analytics")
        if rep.out["triangles"] != want["triangles"]:
            raise CheckFailed(
                f"analytics: {rep.out['triangles']} triangles, DuckDB {want['triangles']}"
            )


WORKLOADS = {w.name: w for w in (Ingest(), Analytics())}


def write_oracle(out: str, name: str, path: str, seed: str, size: str, n_edges: str) -> None:
    """Compute one workload's oracle and save it as ``out`` (an .npz).

    ``python3 -m perfbench.workloads OUT NAME INPUT_DIR SEED SIZE N_EDGES``,
    run from the repository root."""
    want = WORKLOADS[name].oracle(Inputs(path, int(seed), int(size), int(n_edges)))
    np.savez(out, **want)


if __name__ == "__main__":
    import sys

    write_oracle(*sys.argv[1:])
