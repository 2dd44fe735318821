"""Regime rules (plans/regimes.py): the triangle closure flag and the
31-bit id rule. The broadcast-state resolver and the size probe are
covered in tests/test_metrics.py."""

from __future__ import annotations

import pytest
from pyspark.errors import SparkRuntimeException

from tests.conftest import GOLDEN, edges_df
from trianglecount_spark.operators import canonicalize_edges, orient
from trianglecount_spark.operators.canonicalize import canonicalize_edges_packed
from trianglecount_spark.operators.triangles import (
    triangles_join,
    weighted_triangle_total,
)
from trianglecount_spark.plans import regimes as R


def test_fits_31_bits_boundary():
    # 2^31 - 1 is the largest id a packed (src << 32) | dst key or an
    # int32 downcast can hold; 2^31 takes the pair / int64 path
    assert R.fits_31_bits((1 << 31) - 1) is True
    assert R.fits_31_bits(1 << 31) is False
    assert R.fits_31_bits(0) is True
    assert R.fits_31_bits(None) is False  # unknown range: wide path


def test_packed_canonicalize_rejects_ids_outside_31_bits(spark):
    # 2^31 and -1 would pack into wrong keys, so the job fails instead;
    # 2^31 - 1 still packs and matches the pair form
    # (tests/test_canonicalize.py::test_canonicalize_packed_matches_unpacked)
    for bad in (1 << 31, -1):
        df = edges_df(spark, [(0, 1), (bad, 2)])
        with pytest.raises(SparkRuntimeException, match=r"outside \[0, 2\^31\)"):
            canonicalize_edges_packed(df).collect()


def test_closure_flag_typo_raises(spark):
    raw = edges_df(spark, GOLDEN["k4"][0])
    o = orient(canonicalize_edges(raw))
    for typo in ("Broadcast", "broadcast", "shuffle", "Auto"):
        with pytest.raises(ValueError, match="auto"):
            triangles_join(o, closure=typo)
        with pytest.raises(ValueError, match="auto"):
            weighted_triangle_total(raw, closure=typo)


def test_closure_auto_counts_parquet_lineage(spark, tmp_path, monkeypatch):
    """A file-scan estimate over the byte ceiling does not decide the
    closure alone: the row count, under the row ceiling, lets the
    semi-join broadcast its edge side."""
    path = str(tmp_path / "oriented.parquet")
    raw, want = GOLDEN["k5"]
    orient(canonicalize_edges(edges_df(spark, raw))).write.parquet(path)
    o = spark.read.parquet(path)
    monkeypatch.setattr(R, "BROADCAST_BYTE_LIMIT", 1)
    assert R._estimated_bytes(o) > R.BROADCAST_BYTE_LIMIT  # noqa: SLF001

    # with automatic broadcasts off, only the closure hint can broadcast
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        tri = triangles_join(o)
        plan = tri._jdf.queryExecution().sparkPlan().toString()  # noqa: SLF001
        semi = [line for line in plan.splitlines() if "LeftSemi" in line]
        assert semi and "BroadcastHashJoin" in semi[0], plan
        assert tri.count() == want

        monkeypatch.setattr(R, "BROADCAST_ROW_LIMIT", 1)
        shuf = triangles_join(o)
        plan = shuf._jdf.queryExecution().sparkPlan().toString()  # noqa: SLF001
        semi = [line for line in plan.splitlines() if "LeftSemi" in line]
        assert semi and "BroadcastHashJoin" not in semi[0], plan
        assert shuf.count() == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
