"""Batched multi-root weighted SSSP vs an exact Dijkstra oracle."""

import heapq

from pyspark.sql import functions as F

from citation_graph_spark import datagen
from citation_graph_spark.datagen import _edges_df
from citation_graph_spark.operators.sssp import sssp


def _weighted(df):
    return df.select(
        "src", "dst", ((F.col("src") + F.col("dst")) % 7 + 1).alias("weight")
    )


def dijkstra_oracle(wedges, root):
    adj = {}
    for s, d, w in wedges:
        if s != d:
            cur = adj.setdefault(s, {})
            cur[d] = min(cur.get(d, 1 << 62), w)
    dist = {root: 0}
    pq = [(0, root)]
    while pq:
        du, u = heapq.heappop(pq)
        if du > dist.get(u, 1 << 62):
            continue
        for v, w in adj.get(u, {}).items():
            nd = du + w
            if nd < dist.get(v, 1 << 62):
                dist[v] = nd
                heapq.heappush(pq, (nd, v))
    return dist


def test_sssp_closed_form_path(spark):
    # 1 -2-> 2 -3-> 3, plus a costly shortcut 1 -10-> 3
    edges = spark.createDataFrame(
        [(1, 2, 2), (2, 3, 3), (1, 3, 10)], "src long, dst long, weight long"
    )
    res = sssp(edges, roots=[1])
    got = {(r["root"], r["id"]): r["dist"] for r in res.distances.collect()}
    assert got == {(1, 1): 0, (1, 2): 2, (1, 3): 5}
    assert res.converged
    assert sssp(edges, roots=[1]).history == res.history  # no wall-clock fields


def test_sssp_parallel_edges_keep_cheapest(spark):
    edges = spark.createDataFrame(
        [(1, 2, 9), (1, 2, 4), (2, 2, 1)], "src long, dst long, weight long"
    )
    got = {r["id"]: r["dist"] for r in sssp(edges, roots=[1]).distances.collect()}
    assert got == {1: 0, 2: 4}  # self-loop never relaxes


def test_sssp_zipf_vs_dijkstra(spark):
    edges = _weighted(
        datagen.zipf_edges(spark, n_vertices=300, n_edges=1500, seed=13)
    ).cache()
    wlist = [(r["src"], r["dst"], r["weight"]) for r in edges.collect()]
    roots = sorted({s for s, _, _ in wlist})[:4]
    res = sssp(edges, roots=roots, max_rounds=50)
    assert res.converged
    got = {(r["root"], r["id"]): r["dist"] for r in res.distances.collect()}
    want = {
        (root, v): d for root in roots for v, d in dijkstra_oracle(wlist, root).items()
    }
    assert got == want


def test_sssp_round_cap_disclosed(spark):
    # a long weighted path needs len(path) rounds; cap below that
    edges = spark.createDataFrame(
        [(i, i + 1, 1) for i in range(10)], "src long, dst long, weight long"
    )
    res = sssp(edges, roots=[0], max_rounds=3)
    assert not res.converged
    assert res.rounds == 3
    got = {r["id"]: r["dist"] for r in res.distances.collect()}
    assert got == {i: i for i in range(4)}  # exactly 3 relaxation rounds


def test_sssp_unit_weights_match_bfs_depth(spark):
    edges = _edges_df(spark, [(1, 2), (2, 3), (1, 3), (3, 4)]).select(
        "src", "dst", F.lit(1).alias("weight")
    )
    got = {r["id"]: r["dist"] for r in sssp(edges, roots=[1]).distances.collect()}
    assert got == {1: 0, 2: 1, 3: 1, 4: 2}


def test_sssp_compacts_on_exact_delta_rows(spark):
    """The settled base absorbs the delta only once the delta's exact row
    count exceeds half the base. Here one target is re-improved every
    round, so summing the per-round improved counts would overstate the
    delta by one row a round and compact early.

    Root 0 reaches 8 sinks and a chain 1..8 at distance 1, and target 50
    at 100. Chain vertex i (distance i) offers 50 at i + 100 - 10i, so 50
    improves every round. Round 1 improves 10 rows and folds them into a
    base of 11. Rounds 2..6 each add the next chain vertex and re-improve
    50: the exact delta is 2, 3, 4, 5, 6 rows (the improved counts sum to
    2, 4, 6, ...), so it first exceeds 11/2 in round 6 (the sum would in
    round 4). The base then has 16 rows, and rounds 7..9 leave 3 delta
    rows."""
    rows = [(0, 100 + j, 1) for j in range(8)] + [(0, 1, 1), (0, 50, 100)]
    rows += [(i, i + 1, 1) for i in range(1, 8)]
    rows += [(i, 50, 100 - 10 * i) for i in range(1, 9)]
    edges = spark.createDataFrame(rows, "src long, dst long, weight long")
    res = sssp(edges, roots=[0])
    assert res.converged
    assert [h["iteration"] for h in res.history if h.get("compacted")] == [1, 6]
    got = {r["id"]: r["dist"] for r in res.distances.collect()}
    assert got == dijkstra_oracle(rows, 0)
