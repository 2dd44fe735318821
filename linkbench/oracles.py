"""Independent reference results for the benchmark's output checks.

Nothing here imports the engine or Spark. Links and the url dictionary
come from a plain string scan of each page's html; triangle counts from
a NumPy degree orientation and a DuckDB 3-way join; connected
components, label propagation and PageRank from plain NumPy replicas of
each algorithm's documented semantics. The graph functions take a raw
directed edge list as two int64 arrays (self-loops and duplicates
allowed) and canonicalize it the way the engine does: drop self-loops,
symmetrize, de-duplicate.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pandas as pd

_TC_SQL = """
SELECT count(*) FROM o e1
JOIN o e2 ON e1.s = e2.s
JOIN o e3 ON e3.s = e1.d AND e3.d = e2.d
"""


def links(urls, htmls) -> tuple[list[str], list[str]]:
    """Every link of every page as parallel (src_url, dst_url) lists, by
    the engine's documented extraction rules (``functions/extract.py``):
    each double-quoted ``href="..."``; an ``http(s)://`` target kept as
    is, a ``/path`` target resolved against the page's scheme and host,
    any other target skipped. Duplicates and self-links are kept."""
    src, dst = [], []
    for url, html in zip(urls, htmls):
        text = bytes(html).decode("utf-8", errors="replace")
        origin = "/".join(url.split("/", 3)[:3])
        start = text.find('href="')
        while start >= 0:
            end = text.find('"', start + 6)
            if end < 0:
                break
            href = text[start + 6:end]
            if href.startswith(("http://", "https://")):
                src.append(url)
                dst.append(href)
            elif href.startswith("/"):
                src.append(url)
                dst.append(origin + href)
            start = text.find('href="', end + 1)
    return src, dst


def url_dictionary(src: list[str], dst: list[str]) -> dict[str, int]:
    """Url → vid for every link endpoint: its rank among the distinct
    urls in sorted order."""
    return {u: i for i, u in enumerate(sorted(set(src) | set(dst)))}


def symmetric(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """The simple undirected graph as both directions of every edge,
    sorted by (src, dst)."""
    keep = src != dst
    s, d = src[keep].astype(np.int64), dst[keep].astype(np.int64)
    if len(s) == 0:
        return s, d
    n = int(max(s.max(), d.max())) + 1
    key = np.unique(np.concatenate([s * n + d, d * n + s]))
    return key // n, key % n


def triangles(src: np.ndarray, dst: np.ndarray) -> dict:
    """Undirected edge count, triangle count and the intersection work
    Σ over oriented edges (u, v) of d⁺(u) + d⁺(v). Each edge points from
    lower to higher (degree, -id), as in the engine's ``orient``; the
    triangles are a DuckDB 3-way join over the oriented edges."""
    s, d = symmetric(src, dst)
    deg = np.bincount(s) if len(s) else np.zeros(0, np.int64)
    keep = (deg[s] < deg[d]) | ((deg[s] == deg[d]) & (d < s))
    o_src, o_dst = s[keep], d[keep]
    outdeg = np.bincount(o_src, minlength=len(deg))
    con = duckdb.connect()
    try:
        con.execute(f"SET threads = {len(os.sched_getaffinity(0))}")
        con.register("o", pd.DataFrame({"s": o_src, "d": o_dst}))
        (tri,) = con.execute(_TC_SQL).fetchone()
    finally:
        con.close()
    return {"n_und": int(len(o_src)), "triangles": int(tri),
            "intersect_work": int((outdeg[o_src] + outdeg[o_dst]).sum())}


def components(src: np.ndarray, dst: np.ndarray) -> dict[int, int]:
    """Vertex → smallest vertex id of its connected component, for every
    vertex of a non-loop edge: min-label hooking with pointer jumping."""
    s, d = symmetric(src, dst)
    if len(s) == 0:
        return {}
    lab = np.arange(int(s.max()) + 1, dtype=np.int64)
    while True:
        new = lab.copy()
        np.minimum.at(new, s, lab[d])
        while True:
            jumped = new[new]
            if np.array_equal(jumped, new):
                break
            new = jumped
        if np.array_equal(new, lab):
            break
        lab = new
    verts = np.unique(s)
    return dict(zip(verts.tolist(), lab[verts].tolist()))


def _iterate(state: np.ndarray, step, changed, max_iter: int, check_every: int) -> tuple[np.ndarray, int]:
    """The engine's iteration schedule (operators/iterative.py): a
    convergence check every ``check_every`` rounds and after the last,
    stopping when nothing changed since the previous check."""
    prev = state
    for i in range(max_iter):
        state = step(state)
        if (i + 1) % check_every == 0 or i == max_iter - 1:
            if not changed(prev, state):
                return state, i + 1
            prev = state
    return state, max_iter


def label_propagation(
    src: np.ndarray, dst: np.ndarray, max_iter: int, check_every: int = 4
) -> dict[int, int]:
    """Synchronous LPA: each round every vertex with neighbours takes the
    most frequent neighbour label, ties to the smallest label."""
    s, d = symmetric(src, dst)
    if len(s) == 0:
        return {}
    n = int(s.max()) + 1

    def step(lab: np.ndarray) -> np.ndarray:
        keys, freq = np.unique(d * n + lab[s], return_counts=True)
        v, label = keys // n, keys % n
        order = np.lexsort((label, -freq, v))
        v, label = v[order], label[order]
        first = np.r_[True, v[1:] != v[:-1]]
        out = lab.copy()
        out[v[first]] = label[first]
        return out

    verts = np.unique(s)
    lab, _ = _iterate(
        np.arange(n, dtype=np.int64), step,
        lambda a, b: not np.array_equal(a[verts], b[verts]), max_iter, check_every,
    )
    return dict(zip(verts.tolist(), lab[verts].tolist()))


def pagerank(
    src: np.ndarray, dst: np.ndarray, rounds: int, alpha: float = 0.85
) -> dict[int, float]:
    """Power iteration on the symmetric graph with uniform teleport; every
    vertex has an out-edge, so no dangling mass exists. Runs exactly
    ``rounds`` rounds (the engine's ``tol=0.0`` never stops early on a
    graph whose ranks still move)."""
    s, d = symmetric(src, dst)
    if len(s) == 0:
        return {}
    size = int(s.max()) + 1
    verts = np.unique(s)
    outdeg = np.bincount(s, minlength=size).astype(np.float64)
    rank = np.zeros(size)
    rank[verts] = 1.0 / len(verts)
    for _ in range(rounds):
        contrib = np.bincount(d, weights=rank[s] / outdeg[s], minlength=size)
        rank = np.zeros(size)
        rank[verts] = alpha * contrib[verts] + (1.0 - alpha) / len(verts)
    return dict(zip(verts.tolist(), rank[verts].tolist()))
