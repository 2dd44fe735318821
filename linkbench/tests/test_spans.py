from __future__ import annotations

from linkbench.spans import LAYERS, Tracer, group_counters
from trianglecount_spark.operators import canonicalize as canon_mod


def test_job_groups_split_two_tiny_jobs(spark):
    sc = spark.sparkContext
    sc.setJobGroup("t-a", "a")
    spark.range(0, 1000, 1, 3).selectExpr("id % 7 AS k").groupBy("k").count().collect()
    sc.setJobGroup("t-b", "b")
    spark.range(0, 10, 1, 2).count()
    counters = group_counters(sc)
    a, b = counters["t-a"], counters["t-b"]
    assert a["jobs"] >= 1 and b["jobs"] >= 1
    assert a["shuffle_write_mb"] > 0 and a["shuffle_read_mb"] > 0  # the groupBy shuffles
    assert a["tasks"] >= 3 and a["failed_tasks"] == 0
    assert b["tasks"] >= 2
    assert a["exec_run_s"] >= 0 and b["exec_run_s"] >= 0


def test_tracer_charges_lazy_work_to_the_calling_layer(spark):
    edges = spark.createDataFrame([(0, 1), (1, 2), (2, 0), (2, 0)], "src long, dst long")
    tracer = Tracer(spark, prefix="t-lazy:")
    original = canon_mod.canonicalize_edges
    with tracer.installed():
        assert canon_mod.canonicalize_edges is not original
        sym = canon_mod.canonicalize_edges(edges)
        assert sym.count() == 6  # runs after the call returned: still "canonicalize"
    assert canon_mod.canonicalize_edges is original
    counters = tracer.counters(2, group_counters(spark.sparkContext))
    assert set(counters) == set(LAYERS)
    assert counters["canonicalize"]["jobs"] >= 1
    assert counters["canonicalize"]["seconds"] > 0
    assert counters["triangles"]["jobs"] == 0 and counters["triangles"]["seconds"] == 0
