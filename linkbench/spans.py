"""Per-layer spans and Spark counters for the traced benchmark run.

A span starts when the benchmark (or ``run_pipeline``) calls one of a
layer's public functions and lasts until the next layer call or the end
of the pass. Engine functions return lazy DataFrames whose jobs run
after they return (a parquet write, a ``count``), so the span — and the
Spark job group set at its start — stays open until the next layer
begins; glue code between two layer calls is charged to the
earlier layer. Counters come from Spark's status store, grouped by the
job group each job ran under.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import time
from collections import defaultdict

# layer → (module, public functions) whose calls open the layer's span
LAYERS: dict[str, tuple[str, tuple[str, ...]]] = {
    "extract": ("trianglecount_spark.functions.extract", ("edges_from_pages",)),
    "canonicalize": (
        "trianglecount_spark.operators.canonicalize",
        ("canonicalize_edges", "canonicalize_edges_packed", "orient"),
    ),
    "triangles": ("trianglecount_spark.operators.triangles", ("triangle_count_arrays",)),
    "pagerank": ("trianglecount_spark.operators.pagerank", ("pagerank",)),
    "components": ("trianglecount_spark.operators.components", ("connected_components",)),
    "lpa": ("trianglecount_spark.operators.lpa", ("label_propagation",)),
}

# the stages ``run_pipeline`` times in its returned metrics
PIPELINE_STAGES = ("edges", "tc", "pagerank", "components", "lpa")

# per-layer counters and their units: ``seconds`` is the span, the next
# eight come from Spark, ``rows_out`` from the workload, the rest derive
COUNTER_UNITS = {
    "seconds": "s", "jobs": "count", "tasks": "count", "failed_tasks": "count",
    "shuffle_write_mb": "MB", "shuffle_read_mb": "MB", "spill_mb": "MB",
    "exec_run_s": "s", "peak_exec_mem_mb": "MB",
    "rows_out": "rows", "busy_frac": "ratio", "wait_s": "s",
}
COUNTERS = tuple(COUNTER_UNITS)[:9]

_MB = 1e6


class Tracer:
    """Sticky layer spans on one Spark context. ``prefix`` keeps the job
    groups of separate passes apart in the status store."""

    def __init__(self, spark, prefix: str = "") -> None:
        self.sc = spark.sparkContext
        self.prefix = prefix
        self.seconds: dict[str, float] = defaultdict(float)
        self.overhead_s = 0.0
        self._open: tuple[str, float] | None = None

    def enter(self, layer: str) -> None:
        t = time.perf_counter()
        self._close_at(t)
        self.sc.setJobGroup(self.prefix + layer, layer)
        self._open = (layer, t)
        self.overhead_s += time.perf_counter() - t

    def close(self) -> None:
        t = time.perf_counter()
        self._close_at(t)
        self.sc.setJobGroup(self.prefix + "-", "untraced")
        self.overhead_s += time.perf_counter() - t

    def _close_at(self, t: float) -> None:
        if self._open is not None:
            layer, t0 = self._open
            self.seconds[layer] += t - t0
            self._open = None

    @contextlib.contextmanager
    def installed(self):
        """Route every layer function in ``LAYERS`` through ``enter``
        for the duration of the block. Callers must look the functions
        up on their modules at call time (``run_pipeline`` imports them
        inside its body, so it does)."""
        originals = []
        try:
            for layer, (mod_name, names) in LAYERS.items():
                mod = importlib.import_module(mod_name)
                for name in names:
                    fn = getattr(mod, name)
                    originals.append((mod, name, fn))
                    setattr(mod, name, self._wrap(layer, fn))
            yield self
        finally:
            self.close()
            for mod, name, fn in originals:
                setattr(mod, name, fn)

    def _wrap(self, layer: str, fn):
        @functools.wraps(fn)
        def call(*args, **kwargs):
            self.enter(layer)
            return fn(*args, **kwargs)

        return call

    def counters(self, cores: int, by_group: dict) -> dict[str, dict[str, float]]:
        """Per-layer counters of this tracer's job groups, picked from
        ``group_counters``' result, plus the derived ``busy_frac`` and
        ``wait_s``."""
        out = {}
        for layer in LAYERS:
            c = dict.fromkeys(COUNTERS, 0.0)
            c.update(by_group.get(self.prefix + layer, {}))
            c["seconds"] = self.seconds.get(layer, 0.0)
            busy = c["exec_run_s"] / cores
            c["busy_frac"] = busy / c["seconds"] if c["seconds"] else 0.0
            c["wait_s"] = max(0.0, c["seconds"] - busy) if c["seconds"] else 0.0
            out[layer] = c
        return out


def _scala_list(sc, seq):
    return sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq)


def group_counters(sc) -> dict[str, dict[str, float]]:
    """Job and stage counters summed per Spark job group.

    Reads ``jobsList`` for each job's group and stage ids, then
    ``stageList`` for per-stage metrics. A stage listed by several jobs
    (a reused shuffle shows as SKIPPED in the later job) is charged once,
    to the group of the first job that ran it, or to none if that job had
    no group; skipped and pending stages ran no tasks.
    ``peak_exec_mem_mb`` is the largest stage's summed task peak.
    """
    store = sc._jsc.sc().statusStore()
    jobs = sorted(_scala_list(sc, store.jobsList(None)), key=lambda j: j.jobId())
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(COUNTERS[1:], 0.0))
    stage_group: dict[int, str | None] = {}
    for job in jobs:
        group = job.jobGroup()
        name = group.get() if group.isDefined() else None
        if name is not None:
            out[name]["jobs"] += 1
        for sid in _scala_list(sc, job.stageIds()):
            stage_group.setdefault(int(sid), name)
    # the quantiles argument must be an empty array, not null (NPE)
    quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    stages = _scala_list(
        sc, store.stageList(None, False, False, quantiles, sc._jvm.java.util.ArrayList())
    )
    for st in stages:
        name = stage_group.get(int(st.stageId()))
        if name is None or st.status().toString() in ("SKIPPED", "PENDING"):
            continue
        c = out[name]
        c["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
        c["failed_tasks"] += st.numFailedTasks()
        c["shuffle_write_mb"] += st.shuffleWriteBytes() / _MB
        c["shuffle_read_mb"] += st.shuffleReadBytes() / _MB
        c["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / _MB
        c["exec_run_s"] += st.executorRunTime() / 1000.0
        c["peak_exec_mem_mb"] = max(c["peak_exec_mem_mb"], st.peakExecutionMemory() / _MB)
    return dict(out)
