"""Deterministic HLL: accuracy envelope + partition invariance."""

from trianglecount_spark.operators.sketches import hll_estimate, hll_registers


def test_hll_accuracy_and_partition_invariance(spark):
    df = spark.range(0, 20000, 1, 8).selectExpr("id AS v")
    row = hll_estimate(hll_registers(df, "v")).collect()[0]
    # m=256 => relative std error ~1.04/sqrt(256) = 6.5%; 4 sigma bound
    assert abs(row.estimate - 20000) / 20000 < 0.26, row

    # same values, duplicated and differently partitioned => identical sketch
    dup = df.unionByName(df).repartition(32)
    row2 = hll_estimate(hll_registers(dup, "v")).collect()[0]
    assert (row.s_scaled, row.estimate) == (row2.s_scaled, row2.estimate)


def test_cms_overestimates_and_exact_when_sparse(spark):
    from trianglecount_spark.operators.sketches import cms_estimate, cms_sketch
    from pyspark.sql import functions as F

    # 5 distinct items, wide sketch => collisions vanishingly unlikely:
    # estimates equal exact counts; with a tiny sketch they only inflate
    occ = [(f"item{i % 5}",) for i in range(100)]
    df = spark.createDataFrame(occ, "x string")
    exact = {r.x: r.n for r in df.groupBy("x").agg(F.count("*").alias("n")).collect()}

    wide = cms_estimate(cms_sketch(df, "x", width=4096, depth=3), df.distinct(), "x",
                        width=4096, depth=3)
    assert {r.x: r.est_n for r in wide.collect()} == exact

    tiny = cms_estimate(cms_sketch(df, "x", width=2, depth=1), df.distinct(), "x",
                        width=2, depth=1)
    for r in tiny.collect():
        assert r.est_n >= exact[r.x]  # CMS never undercounts


def test_bloom_no_false_negatives(spark):
    from trianglecount_spark.operators.sketches import bloom_build, bloom_maybe_contains

    members = spark.createDataFrame([(f"m{i}",) for i in range(200)], "x string")
    others = spark.createDataFrame([(f"other{i}",) for i in range(200)], "x string")
    bits = bloom_build(members, "x", m_bits=65536, k_hashes=4)
    # every member reports maybe_member (Bloom guarantee)
    got = {r.x: r.maybe_member for r in
           bloom_maybe_contains(bits, members, "x", m_bits=65536, k_hashes=4).collect()}
    assert all(got.values()) and len(got) == 200
    # a wide filter rejects essentially all non-members (fp rate ~(kn/m)^k)
    neg = {r.x: r.maybe_member for r in
           bloom_maybe_contains(bits, others, "x", m_bits=65536, k_hashes=4).collect()}
    assert sum(neg.values()) <= 2
