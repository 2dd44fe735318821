"""The benchmark's workloads: seeded input, the timed pass, the checks.

Each workload generates its input with the engine's own seeded sources
(set-up, untimed), runs one pass through the engine's public entry
points (timed by the caller), then checks every output against
``oracles`` (untimed). Layer functions are looked up on their modules
at call time, so a ``spans.Tracer`` installed around the pass sees
every call.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkbench import oracles
from linkbench.spans import PIPELINE_STAGES
from trianglecount_spark.operators import canonicalize as canon_mod
from trianglecount_spark.operators import triangles as tri_mod
from trianglecount_spark.plans import pipeline as pipeline_mod
from trianglecount_spark.sources.pages import make_pages
from trianglecount_spark.sources.synth import powerlaw_edges

# run_pipeline's defaults, stated here so the oracles replay the same rounds
PR_ROUNDS = 10
LPA_ROUNDS = 5


def fingerprint(df: DataFrame) -> tuple[int, int]:
    """Row count + order-independent xor of a hash over every column."""
    row = df.agg(
        F.count("*"), F.expr(f"bit_xor(xxhash64({', '.join(df.columns)}))")
    ).collect()[0]
    return int(row[0]), int(row[1] or 0)


def _read(path: str, *cols: str) -> list[np.ndarray]:
    df = pd.read_parquet(path, columns=list(cols))
    return [df[c].to_numpy() for c in cols]


def _compare(name: str, v: np.ndarray, got: np.ndarray, want: dict) -> list[str]:
    if sorted(v.tolist()) != sorted(want):
        return [f"{name}: vertex set differs from the oracle's"]
    bad = int(np.count_nonzero(got != np.array([want[x] for x in v.tolist()])))
    return [f"{name}: {bad} of {len(v)} vertices differ from the oracle"] if bad else []


def _sorted_pairs(src: np.ndarray, dst: np.ndarray) -> np.ndarray:
    pairs = np.stack([src, dst], axis=1)
    return pairs[np.lexsort((pairs[:, 1], pairs[:, 0]))]


def _rounds(stage: dict) -> int:
    """Rounds an iterative pipeline stage ran, from its check-round log."""
    log = stage.get("rounds") or []
    return log[-1]["round"] + 1 if log else 0


class WebPipeline:
    """pages(html) → ``run_pipeline`` (edges, tc, pagerank, components,
    lpa) into a fresh ``out_dir``; ``resume`` re-runs it over the
    finished ``out_dir``, where every stage is skipped."""

    name = "web_pipeline"
    params = {"n_pages": 3000, "n_sites": 60}
    passes = 1  # a pass is ~30 s cold; a second would not fit the run budget

    def setup(self, spark, seed: int) -> DataFrame:
        pages = make_pages(spark, seed=seed, **self.params).cache()
        pages.count()
        return pages

    def run(self, spark, pages: DataFrame, work_dir: str) -> dict:
        out_dir = os.path.join(work_dir, "out")
        m = pipeline_mod.run_pipeline(
            spark, pages, out_dir, pr_rounds=PR_ROUNDS, lpa_rounds=LPA_ROUNDS
        )
        return {"pages": pages, "metrics": m, "out_dir": out_dir}

    def resume(self, spark, pages: DataFrame, out: dict) -> None:
        out["resumed"] = pipeline_mod.run_pipeline(
            spark, pages, out["out_dir"], pr_rounds=PR_ROUNDS, lpa_rounds=LPA_ROUNDS
        )

    def check(self, out: dict) -> tuple[list[str], dict]:
        """Errors found, and the per-layer facts of the pass."""
        m, d = out["metrics"], out["out_dir"]
        errors = []
        pdf = out["pages"].select("url", "html").toPandas()
        link_src, link_dst = oracles.links(pdf["url"], pdf["html"])
        vid_of = oracles.url_dictionary(link_src, link_dst)
        url, vid = _read(f"{d}/vertices", "url", "vid")
        if m["n_vertices"] != len(vid_of) or dict(zip(url.tolist(), vid.tolist())) != vid_of:
            errors.append("vertices: the url dictionary differs from the oracle's")
        src, dst = _read(f"{d}/edges", "src", "dst")
        mined = np.array([[vid_of[s], vid_of[t]] for s, t in zip(link_src, link_dst)], np.int64)
        if not np.array_equal(_sorted_pairs(src, dst), _sorted_pairs(*mined.reshape(-1, 2).T)):
            errors.append("edges: the mined (src, dst) multiset differs from the oracle's")
        tc = oracles.triangles(src, dst)
        for key, want in (("n_und_edges", tc["n_und"]), ("n_triangles", tc["triangles"])):
            if m[key] != want:
                errors.append(f"{key}: pipeline {m[key]} != oracle {want}")
        v_cc, comp = _read(f"{d}/components", "v", "comp")
        errors += _compare("components", v_cc, comp, oracles.components(src, dst))
        if m["n_components"] != len(np.unique(comp)):
            errors.append("n_components disagrees with the components table")
        v_lpa, label = _read(f"{d}/lpa", "v", "label")
        errors += _compare("lpa", v_lpa, label, oracles.label_propagation(src, dst, LPA_ROUNDS))
        v_pr, rank = _read(f"{d}/pagerank", "v", "rank")
        want = oracles.pagerank(src, dst, PR_ROUNDS)
        if sorted(v_pr.tolist()) != sorted(want) or not np.allclose(
            rank, [want[x] for x in v_pr.tolist()], rtol=1e-6, atol=1e-12
        ):
            errors.append("pagerank: ranks are not allclose to the oracle")
        r = out["resumed"]
        same = ("edges_fingerprint", "n_vertices", "n_und_edges", "n_triangles", "n_components")
        if any(r[k] != m[k] for k in same):
            errors.append("resume: counts differ from the completed run")
        if not all(r["stages"][s].get("skipped") for s in PIPELINE_STAGES):
            errors.append("resume: a completed stage ran again")
        st = m["stages"]
        facts = {
            "extract.links_raw": len(src),
            "extract.vertices": m["n_vertices"],
            "extract.rows_out": len(src),
            "canonicalize.rows_out": 2 * m["n_und_edges"],
            "canonicalize.dedupe_ratio": 2 * m["n_und_edges"] / len(src),
            "triangles.rows_out": m["n_triangles"],
            "triangles.intersect_work": tc["intersect_work"],
            "pagerank.rows_out": len(v_pr),
            "pagerank.rounds": _rounds(st["pagerank"]),
            "pagerank.iters_per_min": 60 * _rounds(st["pagerank"]) / st["pagerank"]["seconds"],
            "components.rows_out": len(v_cc),
            "components.rounds": _rounds(st["components"]),
            "lpa.rows_out": len(v_lpa),
            "lpa.rounds": _rounds(st["lpa"]),
            "pipeline.out_mb": sum(
                os.path.getsize(os.path.join(p, f)) for p, _, fs in os.walk(d) for f in fs
            ) / 1e6,
            **{f"pipeline.{s}.seconds": st[s]["seconds"] for s in PIPELINE_STAGES},
        }
        return errors, facts


class TcHubs:
    """Raw power-law edges with a dense hub core → packed canonicalize →
    orient → ``triangle_count_arrays``, materialized between steps as
    ``run_pipeline`` does."""

    name = "tc_hubs"
    params = {"n_edges": 600_000, "n_vertices": 20_000, "skew": 2.0}
    passes = 3  # ~10 s cold, then ~5 s and ~4 s as the JVM warms

    def __init__(self) -> None:
        self._oracle: dict | None = None

    def setup(self, spark, seed: int) -> DataFrame:
        raw = powerlaw_edges(spark, seed=seed, **self.params).cache()
        raw.count()
        return raw

    def run(self, spark, raw: DataFrame, work_dir: str) -> dict:
        sym = canon_mod.canonicalize_edges_packed(raw).persist()
        n_sym = sym.count()
        oriented = canon_mod.orient(sym).persist()
        n_oriented = oriented.count()
        tri = tri_mod.triangle_count_arrays(oriented)
        oriented.unpersist()
        sym.unpersist()
        return {"raw": raw, "n_sym": n_sym, "n_oriented": n_oriented, "triangles": tri}

    def check(self, out: dict) -> tuple[list[str], dict]:
        if self._oracle is None:  # the input is the same on every pass
            pdf = out["raw"].toPandas()
            self._oracle = oracles.triangles(pdf["src"].to_numpy(), pdf["dst"].to_numpy())
            self._oracle["raw"] = len(pdf)
        want = self._oracle
        errors = [
            f"{k}: engine {out[k]} != oracle {v}"
            for k, v in (("n_sym", 2 * want["n_und"]), ("n_oriented", want["n_und"]),
                         ("triangles", want["triangles"]))
            if out[k] != v
        ]
        facts = {
            "canonicalize.rows_out": out["n_sym"],
            "canonicalize.dedupe_ratio": out["n_sym"] / want["raw"],
            "triangles.rows_out": out["triangles"],
            "triangles.intersect_work": want["intersect_work"],
        }
        return errors, facts


WORKLOADS = {w.name: w for w in (WebPipeline, TcHubs)}
