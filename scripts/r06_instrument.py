"""Round-6 measurement harness (guide §1): capture .explain("formatted")
for every headline bench query and time isolated sub-stages with the noop
sink, without touching bench.py (frozen for measurement).

Usage:
  python scripts/r06_instrument.py plans   # write plans/r06/<q>_<tag>.txt
  python scripts/r06_instrument.py stages  # per-stage noop timings (JSON)

Env: SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS as in bench.py; TAG=before|after
selects the plan-file suffix.

Superstep plans are not captured here: ``scripts/explain_plans.py`` prints
the PageRank superstep as the engine runs it (state co-partitioned on
``id``, one Exchange).
"""

from __future__ import annotations

import io
import json
import os
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from citation_graph_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
TAG = os.environ.get("TAG", "before")
PLANS_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r06")


def explain_str(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def save_plan(name: str, df) -> None:
    os.makedirs(PLANS_DIR, exist_ok=True)
    path = os.path.join(PLANS_DIR, f"{name}_{TAG}.txt")
    with open(path, "w") as f:
        f.write(explain_str(df))
    print(f"wrote {path}")


def noop(df) -> float:
    t0 = time.time()
    df.write.format("noop").mode("overwrite").save()
    return round(time.time() - t0, 3)


def main() -> int:
    mode = sys.argv[1] if len(sys.argv) > 1 else "plans"
    spark = get_spark(app_name="r06-instrument", master=f"local[{CPUS}]",
                      shuffle_partitions=CPUS)
    sc = spark.sparkContext

    from citation_graph_spark import datagen
    from citation_graph_spark.edges import build_edges
    from citation_graph_spark.operators.prepared import PreparedGraph
    from citation_graph_spark.pipeline.dedup import (
        exact_jaccard_for_candidates,
        minhash_lsh_pairs,
        _lsh_candidates_from_signatures,
        _signatures_from_shingles,
        shingles,
    )
    from citation_graph_spark.pipeline.similarity import (
        ann_ivf_topk,
        ann_lsh_topk,
        ann_topk_bruteforce,
    )

    sf = float(os.path.basename(SF_DIR.rstrip("/")).replace("sf", "") or 0.1)
    n_vertices = max(10_000, int(sf * 8_000_000))
    n_edges = max(100_000, int(sf * 80_000_000))
    timings: dict[str, float] = {}

    def stage(name, fn):
        sc.setJobDescription(name)
        t0 = time.time()
        out = fn()
        timings[name] = round(time.time() - t0, 3)
        sc.setJobDescription(None)
        print(f"  {name}: {timings[name]}s", flush=True)
        return out

    # ---- graph build --------------------------------------------------------
    edges = datagen.zipf_edges(spark, n_vertices, n_edges, seed=42).persist()
    stage("graph_build: edge gen+persist", lambda: edges.count())
    pg = PreparedGraph(edges)
    stage("graph_build: weighted_edges", lambda: pg.weighted_edges(0))
    stage("graph_build: dangling_flagged", lambda: pg.dangling_flagged())
    stage("graph_build: symmetrized", lambda: pg.symmetrized())

    # ---- minhash ------------------------------------------------------------
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    if mode == "plans":
        save_plan("minhash_lsh", minhash_lsh_pairs(docs, n=3, threshold=0.2))
    else:
        sh = shingles(docs, 3).persist()
        stage("minhash: shingles count", lambda: sh.count())
        sig = _signatures_from_shingles(sh, 64)
        stage("minhash: signatures noop", lambda: noop(sig))
        cand = _lsh_candidates_from_signatures(sig, 64, 16).persist()
        stage("minhash: candidates count", lambda: cand.count())
        verified = exact_jaccard_for_candidates(cand, sh).where(F.col("jaccard") >= 0.2)
        stage("minhash: verify count", lambda: verified.count())
        cand.unpersist(); sh.unpersist()
        r = stage("minhash: full pipeline count",
                  lambda: minhash_lsh_pairs(docs, n=3, threshold=0.2).count())

    # ---- ann ----------------------------------------------------------------
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    qs = emb.where(F.col("vec_id") % 25 == 0)
    if mode == "plans":
        save_plan("ann_topk", ann_topk_bruteforce(qs, emb, k=10))
        save_plan("ann_lsh", ann_lsh_topk(qs, emb, k=10, dim=64, tables=16, planes=4))
        save_plan("ann_ivf", ann_ivf_topk(qs, emb, k=10, dim=64, n_centroids=64,
                                          n_probe=16, n_assign=2))
    else:
        stage("ann: corpus rows", lambda: emb.count())
        stage("ann_topk count", lambda: ann_topk_bruteforce(qs, emb, k=10).count())
        stage("ann_lsh count", lambda: ann_lsh_topk(
            qs, emb, k=10, dim=64, tables=16, planes=4).count())
        t0 = time.time()
        stage("ann_ivf count", lambda: ann_ivf_topk(
            qs, emb, k=10, dim=64, n_centroids=64, n_probe=16, n_assign=2).count())

    # ---- groupagg / extract -------------------------------------------------
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    q1 = (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            F.count("*").alias("count_order"),
        )
    )
    if mode == "plans":
        save_plan("groupagg_q1", q1)
        pages = datagen.generate_pages(spark, max(2000, int(sf * 200_000)), seed=42)
        save_plan("extract", build_edges(pages, max_html_bytes=1 << 20))
    else:
        stage("groupagg_q1 collect", lambda: q1.collect())
        pages = datagen.generate_pages(spark, max(2000, int(sf * 200_000)), seed=42)
        stage("extract: build_edges count",
              lambda: build_edges(pages, max_html_bytes=1 << 20).count())

    pg.unpersist()
    edges.unpersist()
    print(json.dumps({"mode": mode, "timings": timings}))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
