"""SparkSession builders tuned for the engine.

Local mode (``local[N]``) is a single JVM with N executor threads; the same
confs are the ones we would pass to ``spark-submit`` on a real cluster
(AQE, Arrow, shuffle-partition sizing), so plans tested here carry over.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Confs that shape the physical plans we care about. All are standard
# upstream Spark knobs (no vendor/proprietary settings).
ENGINE_CONFS: dict[str, str] = {
    # AQE: runtime coalescing, skew-join splitting, broadcast demotion.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for every pandas UDF / applyInPandas boundary.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
    # Deterministic sessions.
    "spark.sql.session.timeZone": "UTC",
    # Keep broadcast joins for genuinely small dims only; degree/dictionary
    # tables at web scale must shuffle, AQE decides per-run.
    "spark.sql.autoBroadcastJoinThreshold": "64MB",
    "spark.ui.enabled": "false",
}


def default_parallelism() -> int:
    """``SPARK_GRAFT_CPUS`` if set, else the CPUs this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def default_driver_memory() -> str:
    """``SPARK_GRAFT_DRIVER_MEM`` if set, else a third of the host's RAM,
    capped at 6g and at least 1g."""
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    return os.environ.get("SPARK_GRAFT_DRIVER_MEM") or f"{max(1, min(6, int(ram_gb // 3)))}g"


def get_spark(
    app_name: str = "trianglecount_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's confs.

    ``shuffle_partitions`` defaults to the core count — right for local
    mode; on a cluster you size it to ~2-3x total executor cores and let
    AQE coalesce.
    """
    cores = cores or default_parallelism()
    shuffle_partitions = shuffle_partitions or cores
    # Python workers unpickle library UDFs by importing this package; make
    # sure the repo root is importable on workers even when the launcher's
    # cwd/PYTHONPATH differ (spark-submit --py-files covers this on a real
    # cluster, this covers ad-hoc local launchers).
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if repo_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            repo_root + (os.pathsep + existing if existing else "")
        )
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.driver.memory", driver_memory or default_driver_memory())
    )
    for k, v in ENGINE_CONFS.items():
        builder = builder.config(k, v)
    for k, v in (extra_confs or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
