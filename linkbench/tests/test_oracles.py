"""Each oracle on hand-checked graphs and pages, and against the engine
on a small random graph and a small generated crawl (the oracles replay
the engine's semantics, so a drift in either shows here before it shows
as a benchmark failure)."""

from __future__ import annotations

import numpy as np
import pytest

from linkbench import oracles

K4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]


def arrays(pairs):
    a = np.array(pairs, dtype=np.int64).reshape(-1, 2)
    return a[:, 0], a[:, 1]


def test_links_follow_the_documented_href_rules():
    html = ('<a href="/p1">rel</a> <a href="https://b.example/q">abs</a> <a href="">empty</a>'
            "<a href='/p2'>single</a> <a href=>broken</a> <a>none</a> <a href=\"mailto:x\">other</a>"
            '<a href="/p1">dup</a> <a href="/p0">self</a>').encode()
    src, dst = oracles.links(["https://a.example/p0"], [html])
    assert src == ["https://a.example/p0"] * 4
    assert dst == ["https://a.example/p1", "https://b.example/q",
                   "https://a.example/p1", "https://a.example/p0"]
    assert oracles.url_dictionary(src, dst) == {
        "https://a.example/p0": 0, "https://a.example/p1": 1, "https://b.example/q": 2}


def test_k4_triangles_and_work():
    # messy input: a self-loop and a reversed duplicate canonicalize away
    src, dst = arrays(K4 + [(1, 1), (3, 0)])
    # all degrees tie, so every edge points at the smaller id: d⁺ = 0,1,2,3
    assert oracles.triangles(src, dst) == {"n_und": 6, "triangles": 4, "intersect_work": 18}


def test_k4_one_component_plus_a_separate_edge():
    src, dst = arrays(K4 + [(11, 10)])
    assert oracles.components(src, dst) == {0: 0, 1: 0, 2: 0, 3: 0, 10: 10, 11: 10}


def test_lpa_k4_converges_to_smallest_label():
    assert oracles.label_propagation(*arrays(K4), max_iter=5) == {0: 0, 1: 0, 2: 0, 3: 0}


def test_lpa_path_oscillates_and_stops_at_max_iter():
    # rounds alternate {1,0,1} / {0,1,0}; the fifth round lands on {1,0,1}
    assert oracles.label_propagation(*arrays([(0, 1), (1, 2)]), max_iter=5) == {0: 1, 1: 0, 2: 1}


def test_pagerank_k4_uniform_and_star_one_round():
    assert oracles.pagerank(*arrays(K4), rounds=10) == pytest.approx({v: 0.25 for v in range(4)})
    star = oracles.pagerank(*arrays([(0, 1), (0, 2), (0, 3)]), rounds=1)
    assert star == pytest.approx({0: 0.85 * 0.75 + 0.0375, 1: 0.85 * 0.25 / 3 + 0.0375,
                                  2: 0.85 * 0.25 / 3 + 0.0375, 3: 0.85 * 0.25 / 3 + 0.0375})


def test_oracles_agree_with_engine(spark):
    from trianglecount_spark.operators.canonicalize import canonicalize_edges, orient
    from trianglecount_spark.operators.components import connected_components
    from trianglecount_spark.operators.lpa import label_propagation
    from trianglecount_spark.operators.pagerank import pagerank
    from trianglecount_spark.operators.triangles import triangle_count_arrays

    rng = np.random.default_rng(7)
    src = rng.integers(0, 60, 300) ** 2 // 60  # skewed toward low ids, with loops and dups
    dst = rng.integers(0, 60, 300)
    sym = canonicalize_edges(
        spark.createDataFrame([(int(a), int(b)) for a, b in zip(src, dst)], "src long, dst long")
    ).cache()
    assert triangle_count_arrays(orient(sym)) == oracles.triangles(src, dst)["triangles"]
    comp, _ = connected_components(sym)
    assert {r.v: r.comp for r in comp.collect()} == oracles.components(src, dst)
    labels, _ = label_propagation(sym, max_iter=5)
    assert {r.v: r.label for r in labels.collect()} == oracles.label_propagation(src, dst, 5)
    ranks, _ = pagerank(sym, tol=0.0, max_iter=10, check_every=5, dangling_free=True)
    want = oracles.pagerank(src, dst, 10)
    got = {r.v: r.rank for r in ranks.collect()}
    assert sorted(got) == sorted(want)
    assert np.allclose([got[v] for v in want], list(want.values()), rtol=1e-6, atol=1e-12)


def test_links_oracle_agrees_with_engine(spark):
    from trianglecount_spark.functions.extract import edges_from_pages
    from trianglecount_spark.sources.pages import make_pages

    pdf = make_pages(spark, n_pages=40, n_sites=4, seed=5).select("url", "html").toPandas()
    src, dst = oracles.links(pdf["url"], pdf["html"])
    vid_of = oracles.url_dictionary(src, dst)
    edges, vertices = edges_from_pages(spark.createDataFrame(pdf))
    assert {r.url: r.vid for r in vertices.collect()} == vid_of
    got = sorted((r.src, r.dst) for r in edges.collect())
    assert got == sorted((vid_of[s], vid_of[t]) for s, t in zip(src, dst))
