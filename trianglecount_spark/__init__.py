"""trianglecount_spark — a PySpark-native link-graph analytics engine.

Rebuilds the capabilities of the KishantLab/TriangleCount reference (a CUDA
triangle-counting framework, see SURVEY.md) as idiomatic Spark DataFrame
programs, plus the driver-mandated extensions: PageRank, connected
components, label propagation, and large-scale training-data pipeline
operators (dedup, similarity search, text analysis, multimodal plumbing).

Layout
------
- ``session``    — tuned SparkSession builders (local + cluster-shaped confs)
- ``operators``  — graph canonicalization, orientation, triangle counting
                   (per-edge array-intersection form, the default; join
                   form; partitioned-CSR kernel form with hub salting),
                   PageRank / CC / LPA, dedup, knn, multimodal
- ``sources``    — synthetic pages table, testdata loaders, CSR text parity IO
- ``functions``  — vectorized (Arrow/pandas) column functions: href/text
                   extraction, text quality, minhash/simhash
- ``plans``      — partitioning/skew helpers and explain utilities
- ``streaming``  — Structured Streaming edge ingestion, windowed degrees,
                   incremental triangle counting
"""

__version__ = "0.1.0"
