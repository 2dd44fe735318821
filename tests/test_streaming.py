from __future__ import annotations

import os

from trianglecount_spark.streaming.edges_stream import (
    read_edge_stream,
    run_available_now,
    stream_degree_counts,
    stream_edges,
)


def _write_batch(spark, path, rows):
    spark.createDataFrame(rows, "src long, dst long, ts timestamp").coalesce(1).write.mode(
        "append"
    ).parquet(path)


def test_streaming_edges_and_degrees(spark, tmp_path):
    import datetime as dt

    src_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    _write_batch(
        spark,
        src_dir,
        [
            (0, 1, t0),
            (1, 2, t0 + dt.timedelta(minutes=5)),
            (2, 2, t0),  # self-loop dropped
            (0, 2, t0 + dt.timedelta(hours=5)),  # much later window
        ],
    )
    raw = read_edge_stream(spark, src_dir)
    run_available_now(stream_edges(raw), out_dir, ckpt)
    got = {(r.src, r.dst) for r in spark.read.parquet(out_dir).collect()}
    assert got == {(0, 1), (1, 0), (1, 2), (2, 1), (0, 2), (2, 0)}

    # incremental: a second batch is picked up without reprocessing
    _write_batch(spark, src_dir, [(3, 4, t0 + dt.timedelta(hours=6))])
    run_available_now(stream_edges(raw), out_dir, ckpt)
    got2 = spark.read.parquet(out_dir).count()
    assert got2 == 8  # 6 + 2 new symmetric rows

    # windowed degree agg with watermark: old windows finalize and emit
    deg_out = str(tmp_path / "deg")
    deg_ckpt = str(tmp_path / "deg_ckpt")
    run_available_now(stream_degree_counts(raw, "1 hour", "2 hours"), deg_out, deg_ckpt)
    assert os.path.isdir(deg_out)
    deg = spark.read.parquet(deg_out)
    assert set(deg.columns) == {"win_start", "v", "deg"}
