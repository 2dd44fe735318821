"""Seeded link-graph benchmark for trianglecount_spark.

    python3 linkbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

One Python process runs one workload on ``local[<cores>]``, one job at
a time (a closed loop with one client). It starts a Spark session sized
to the host, generates the workload's input from ``--seed`` several
times (set-up), then runs timed passes until ``--seconds`` have passed
and the workload's pass count is reached, checking every pass against
independent oracles. Metrics come from the workload's first
``passes`` passes only, so every run reports the same sequence; later
passes are checked and listed, not measured. The last line of stdout
is one JSON object: ``--trace 0`` reports the end-to-end metrics,
``--trace 1`` the per-layer metrics of a run whose layer calls are
traced (see ``spans.py``). Lines before it list every
figure with its unit and sample count. A failed check makes the exit
code 1; bad arguments, or an engine that cannot be imported, make it 2
before any Spark work starts.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if not __package__:  # run as a script: import the package, not its files
    sys.path[0] = ROOT

from linkbench.spans import (  # noqa: E402
    COUNTER_UNITS, LAYERS, PIPELINE_STAGES, Tracer, group_counters,
)

WORKLOAD_NAMES = ("web_pipeline", "tc_hubs")
SETUP_REPS = 3
MAX_SEED = (1 << 63) - 1

END_TO_END = {"wall_s": "s", "setup_s": "s"}
PER_LAYER = {
    **{f"{layer}.{c}": u for layer in LAYERS for c, u in COUNTER_UNITS.items()},
    "extract.links_raw": "rows", "extract.vertices": "rows",
    "canonicalize.dedupe_ratio": "ratio",
    "triangles.intersect_work": "count", "triangles.yield": "ratio", "triangles.per_s": "1/s",
    "pagerank.rounds": "count", "pagerank.s_per_round": "s", "pagerank.jobs_per_round": "count",
    "pagerank.iters_per_min": "1/min",
    "components.rounds": "count", "lpa.rounds": "count",
    **{f"pipeline.{s}.seconds": "s" for s in PIPELINE_STAGES},
    "pipeline.glue_s": "s", "pipeline.out_mb": "MB", "pipeline.resume_s": "s",
    "pipeline.resume_jobs": "count",
    "session.start_s": "s", "session.peak_rss_mb": "MB", "sources.gen_s": "s",
    "trace.wall_s": "s", "trace.overhead_s": "s",
}


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    """Validate every argument before any Spark work starts."""
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not 0 <= args.seed <= MAX_SEED:
        p.error(f"--seed must be in [0, {MAX_SEED}]")
    if args.seconds < 1:
        p.error("--seconds must be at least 1")
    return args


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def host_ram_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 2**20
    raise RuntimeError("MemTotal missing from /proc/meminfo")


@contextlib.contextmanager
def session(tmp: str, cores: int):
    """A Spark session on ``local[cores]`` whose scratch files all live
    under ``tmp``. The heap is a third of the host's RAM, capped at 6g:
    every workload's data fits several times over, and the host is
    shared. The JVM has exited when the block ends."""
    from pyspark import SparkContext

    from trianglecount_spark.session import get_spark

    os.environ["TMPDIR"] = tmp
    spark = get_spark(
        app_name="linkbench",
        cores=cores,
        shuffle_partitions=cores,
        driver_memory=f"{max(1, min(6, int(host_ram_gb() // 3)))}g",
        extra_confs={
            "spark.local.dir": tmp,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    try:
        yield spark
    finally:
        spark.stop()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def _jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def _reset_peak_rss(pid: int) -> None:
    """Restart the JVM's VmHWM from its current RSS. Where the kernel
    refuses, the peak stays the one since JVM start."""
    with contextlib.suppress(OSError), open(f"/proc/{pid}/clear_refs", "w") as f:
        f.write("5")


def _peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc/<pid>/status")


def measure(spark, wl, seed: int, seconds: int, trace: bool, tmp: str, cores: int) -> dict:
    """Set up ``SETUP_REPS`` times, then run checked passes until
    ``seconds`` have passed and at least ``wl.passes`` ran. Returns the
    samples ``report`` summarizes: the first ``wl.passes`` passes in
    ``passes``, any later ones in ``extra``."""
    from linkbench.workloads import fingerprint

    res = {"gen_s": [], "passes": [], "extra": [], "attempted": 0, "failed": 0, "errors": []}
    fps, inp = [], None
    for _ in range(SETUP_REPS):
        if inp is not None:
            inp.unpersist()
        t = time.perf_counter()
        inp = wl.setup(spark, seed)
        res["gen_s"].append(time.perf_counter() - t)
        fps.append(fingerprint(inp))
    if len(set(fps)) != 1:
        res["errors"].append(f"set-up: one seed gave different inputs {fps}")
    sc, pid = spark.sparkContext, _jvm_pid(spark)
    start = time.perf_counter()
    rep = 0
    while rep < wl.passes or time.perf_counter() - start < seconds:
        res["attempted"] += 1
        work_dir = os.path.join(tmp, f"pass{rep}")
        tracer = Tracer(spark, prefix=f"pass{rep}:") if trace else None
        try:
            _reset_peak_rss(pid)
            t = time.perf_counter()
            if tracer:
                with tracer.installed():
                    tracer.enter("glue")
                    out = wl.run(spark, inp, work_dir)
            else:
                out = wl.run(spark, inp, work_dir)
            wall = time.perf_counter() - t
            rss = _peak_rss_mb(pid)
            resume_s = None
            if hasattr(wl, "resume"):
                if tracer:
                    sc.setJobGroup(tracer.prefix + "resume", "resume")
                t = time.perf_counter()
                wl.resume(spark, inp, out)
                resume_s = time.perf_counter() - t
            errors, facts = wl.check(out)
        except Exception:  # a pass that raises is a failed attempt; keep measuring
            errors = [traceback.format_exc()]
        if errors:
            res["failed"] += 1
            res["errors"] += errors
        else:
            sample = {"wall_s": wall, "rss_mb": rss, "resume_s": resume_s, "facts": facts}
            if tracer:
                sample["layers"] = layer_metrics(tracer, facts, wall, resume_s, cores)
            res["passes" if rep < wl.passes else "extra"].append(sample)
        shutil.rmtree(work_dir, ignore_errors=True)
        rep += 1
    inp.unpersist()
    return res


def layer_metrics(tracer, facts: dict, wall: float, resume_s: float | None, cores: int) -> dict:
    """Every ``PER_LAYER`` value of one traced pass; a layer the
    workload does not run reports 0."""
    by_group = group_counters(tracer.sc)
    flat = dict.fromkeys(PER_LAYER, 0.0)
    for layer, counters in tracer.counters(cores, by_group).items():
        flat.update({f"{layer}.{k}": v for k, v in counters.items()})
    flat.update(facts)
    pr_rounds = flat["pagerank.rounds"]
    if pr_rounds:
        flat["pagerank.s_per_round"] = flat["pagerank.seconds"] / pr_rounds
        flat["pagerank.jobs_per_round"] = flat["pagerank.jobs"] / pr_rounds
    if flat["triangles.intersect_work"]:
        flat["triangles.yield"] = flat["triangles.rows_out"] / flat["triangles.intersect_work"]
    flat["triangles.per_s"] = flat["triangles.rows_out"] / wall
    if resume_s is not None:
        stage_s = sum(flat[f"pipeline.{s}.seconds"] for s in PIPELINE_STAGES)
        flat["pipeline.glue_s"] = wall - stage_s
        flat["pipeline.resume_s"] = resume_s
        flat["pipeline.resume_jobs"] = by_group.get(tracer.prefix + "resume", {}).get("jobs", 0)
    flat["trace.wall_s"] = wall
    flat["trace.overhead_s"] = tracer.overhead_s
    return flat


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def report(res: dict, start_s: float, trace: bool) -> tuple[dict, list[str]]:
    """The result's ``metrics`` and one human-readable line per figure,
    each with its unit and sample count."""
    passes = res["passes"]
    gen_s = _median(res["gen_s"])
    # the passes are a fixed sequence (cold JVM first), and their mean is
    # steadier than any one pass: JIT compilation moves time between
    # passes, not in or out of the sequence. Extra passes are left out,
    # or a faster commit would average in more warm passes.
    mean_wall = statistics.fmean([p["wall_s"] for p in passes]) if passes else 0.0

    def med(key: str) -> float:
        return _median([p[key] for p in passes if p[key] is not None])

    def med_fact(key: str) -> float:
        return _median([p["facts"][key] for p in passes])

    lines = [
        f"fail_ratio = {res['failed'] / res['attempted']} ratio ({res['failed']} of {res['attempted']} passes)",
        f"pass wall_s = {[p['wall_s'] for p in passes]} s, in pass order",
        f"extra pass wall_s = {[p['wall_s'] for p in res['extra']]} s, not in any metric",
        f"peak_rss_mb = {med('rss_mb')} MB (median of {len(passes)})",
        f"triangles_per_s = {_median([p['facts']['triangles.rows_out'] / p['wall_s'] for p in passes])} "
        f"1/s (median of {len(passes)})",
    ]
    if any(p["resume_s"] is not None for p in passes):
        lines.append(f"resume_s = {med('resume_s')} s (median of {len(passes)})")
    if any("pagerank.iters_per_min" in p["facts"] for p in passes):
        lines.append(f"pr_iters_per_min = {med_fact('pagerank.iters_per_min')} "
                     f"1/min (median of {len(passes)})")
    if trace:
        values = {k: _median([p["layers"][k] for p in passes]) for k in PER_LAYER}
        values.update({"session.start_s": start_s, "sources.gen_s": gen_s,
                       "session.peak_rss_mb": med("rss_mb"), "trace.wall_s": mean_wall})
        units = PER_LAYER
    else:
        values = {"wall_s": mean_wall, "setup_s": start_s + gen_s}
        units = END_TO_END
        lines += [f"session.start_s = {start_s} s (1 sample)",
                  f"sources.gen_s = {gen_s} s (median of {len(res['gen_s'])})"]
    counts = {"setup_s": f"session start + median of {len(res['gen_s'])} set-ups",
              "wall_s": f"mean of {len(passes)}", "trace.wall_s": f"mean of {len(passes)}",
              "session.start_s": "1 sample", "sources.gen_s": f"median of {len(res['gen_s'])}"}
    lines += [f"{k} = {v} {units[k]} ({counts.get(k, f'median of {len(passes)}')})"
              for k, v in values.items()]
    return {k: {"value": v, "unit": units[k]} for k, v in values.items()}, lines


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    try:
        from linkbench.workloads import WORKLOADS
    except ImportError as e:
        print(f"linkbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]()
    cores = host_cores()
    scratch = os.path.join(ROOT, ".linkbench-tmp")
    os.makedirs(scratch, exist_ok=True)
    tmp = tempfile.mkdtemp(dir=scratch)
    try:
        t = time.perf_counter()
        with session(tmp, cores) as spark:
            start_s = time.perf_counter() - t
            res = measure(spark, wl, args.seed, args.seconds, bool(args.trace), tmp, cores)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(scratch)
    metrics, lines = report(res, start_s, bool(args.trace))
    for err in res["errors"]:
        print(f"linkbench: check failed: {err}", file=sys.stderr)
    print(f"workload {args.workload} seed {args.seed} on local[{cores}], "
          f"{host_ram_gb():.1f} GiB RAM, trace {args.trace}")
    print("\n".join(lines))
    correct = not res["errors"]
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
