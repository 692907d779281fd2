"""Single-process oracles for the benchmark's output checks.

None of these call the package under test except ``datagen``'s pure-Python
link model, which defines what the crawled pages contain. Vertex hashing,
dedup, PageRank, connected components and label propagation are written
again here with numpy; triangles are counted by DuckDB.
"""

from __future__ import annotations

import numpy as np

_M64 = (1 << 64) - 1
_P1 = 11400714785074694791
_P2 = 14029467366897019727
_P3 = 1609587929392839161
_P4 = 9650029242287828579
_P5 = 2870177450012600261


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    acc = (acc + lane * _P2) & _M64
    return (_rotl(acc, 31) * _P1) & _M64


def xxh64(data: bytes, seed: int = 42) -> int:
    """XXH64 of ``data`` as a signed long: Spark's ``xxhash64`` of a string
    column (default seed 42) hashes its UTF-8 bytes this way."""
    n = len(data)
    i = 0
    if n >= 32:
        v = [
            (seed + _P1 + _P2) & _M64,
            (seed + _P2) & _M64,
            seed & _M64,
            (seed - _P1) & _M64,
        ]
        while i <= n - 32:
            for k in range(4):
                v[k] = _round(v[k], int.from_bytes(data[i : i + 8], "little"))
                i += 8
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M64
        for lane in v:
            h = ((h ^ _round(0, lane)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(data[i : i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i : i + 4], "little") * _P1) & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M64
        h = (_rotl(h, 11) * _P1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >> 63 else h


def ingest_edges(
    n_pages: int, seed: int, max_links: int, max_per_src: int
) -> tuple[int, np.ndarray]:
    """(raw link count, edges) for ``build_edges(pages, max_per_src)`` over
    ``datagen.generate_pages(n_pages, seed, max_links)`` with hash encoding:
    first occurrence per (src, dst), at most ``max_per_src`` per src in
    (pos, dst) order. ``edges`` is an (n, 3) int64 array of
    (src id, dst id, pos) sorted by row."""
    from citation_graph_spark import datagen

    raw = datagen.expected_edges(n_pages, seed=seed, max_links=max_links)
    first: dict[tuple[str, str], int] = {}
    for src, dst, pos in raw:
        if (src, dst) not in first or pos < first[(src, dst)]:
            first[(src, dst)] = pos
    per_src: dict[str, list[tuple[int, str]]] = {}
    for (src, dst), pos in first.items():
        per_src.setdefault(src, []).append((pos, dst))
    ids: dict[str, int] = {}

    def vid(url: str) -> int:
        if url not in ids:
            ids[url] = xxh64(url.encode("utf-8"))
        return ids[url]

    rows = [
        (vid(src), vid(dst), pos)
        for src, kept in per_src.items()
        for pos, dst in sorted(kept)[:max_per_src]
    ]
    return len(raw), sort_rows(np.array(rows, dtype=np.int64).reshape(-1, 3))


def sort_rows(a: np.ndarray) -> np.ndarray:
    return a[np.lexsort(a.T[::-1])] if len(a) else a


def _index(src: np.ndarray, dst: np.ndarray):
    verts, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    return verts, inv[: len(src)], inv[len(src) :]


def pagerank(src, dst, alpha=0.85, tol=1e-6, max_iter=100):
    """Power iteration with uniform teleport and uniform redistribution of
    dangling mass; stops when the L1 change drops below ``tol``. Parallel
    edges count once each. Returns (vertex ids, ranks, iterations)."""
    verts, s, d = _index(src, dst)
    n = len(verts)
    outdeg = np.bincount(s, minlength=n).astype(np.float64)
    dangling = outdeg == 0
    inv_out = 1.0 / outdeg[s]
    r = np.full(n, 1.0 / n)
    it = 0
    for it in range(1, max_iter + 1):
        dm = r[dangling].sum()
        new = (1.0 - alpha) / n + alpha * dm / n + alpha * np.bincount(
            d, weights=r[s] * inv_out, minlength=n
        )
        delta = np.abs(new - r).sum()
        r = new
        if delta < tol:
            break
    return verts, r, it


def _undirected(src, dst):
    """Vertex ids and the deduped undirected edges (both directions) as
    vertex indices, self-loops dropped."""
    verts, s, d = _index(src, dst)
    keep = s != d
    pairs = np.unique(
        np.concatenate([np.stack([s[keep], d[keep]], 1), np.stack([d[keep], s[keep]], 1)]),
        axis=0,
    )
    return verts, pairs[:, 0], pairs[:, 1]


def components(src, dst):
    """Union-find; every vertex is labelled with the smallest vertex id of
    its undirected component. Returns (vertex ids, labels)."""
    verts, u, v = _undirected(src, dst)
    parent = list(range(len(verts)))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(u.tolist(), v.tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    roots = np.array([find(x) for x in range(len(verts))], dtype=np.int64)
    # vertex indices follow id order, so the root (the smallest index that
    # was ever merged) is the component's smallest id
    return verts, verts[roots]


def label_propagation(src, dst, max_iter: int):
    """Synchronous LPA: each round every vertex takes the label most common
    among its undirected neighbours, ties to the smallest label; isolated
    vertices keep theirs. Stops at a fixpoint or after ``max_iter`` rounds.
    Returns (vertex ids, labels)."""
    import pandas as pd

    verts, u, v = _undirected(src, dst)
    labels = verts.copy()
    for _ in range(max_iter):
        counts = (
            pd.DataFrame({"v": v, "label": labels[u]})
            .groupby(["v", "label"], sort=False)
            .size()
            .reset_index(name="cnt")
            .sort_values(["v", "cnt", "label"], ascending=[True, False, True])
            .drop_duplicates("v")
        )
        new = labels.copy()
        new[counts["v"].to_numpy()] = counts["label"].to_numpy()
        if np.array_equal(new, labels):
            break
        labels = new
    return verts, labels


def triangles(edges_glob: str) -> int:
    """Triangles of the undirected simple graph, counted by DuckDB over the
    edge parquet files."""
    import duckdb

    con = duckdb.connect()
    try:
        return con.execute(
            f"""
            WITH und AS (
              SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
              FROM read_parquet('{edges_glob}') WHERE src <> dst)
            SELECT count(*) FROM und e1
            JOIN und e2 ON e1.a = e2.a AND e1.b < e2.b
            JOIN und e3 ON e3.a = e1.b AND e3.b = e2.b
            """
        ).fetchone()[0]
    finally:
        con.close()
