"""lumbermill benchmark: seeded inputs, oracle-checked passes, one JSON line.

    python3 perfbench/run.py --workload drain_noop --seed 1 --seconds 8 --trace 0

Run from a checkout's root. ``--trace 0`` prints the end-to-end metrics of
untraced passes; ``--trace 1`` prints the per-layer metrics of a traced run.
The last line of stdout is the JSON result; the exit code is 0 only when every
output matched the oracle. Inputs, outputs and Spark's scratch space live under
``.perfbench/`` in the checkout and are removed at exit, except the span file
of a traced run (``.perfbench/traces/``). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from statistics import median

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
T0 = time.perf_counter()
WARMUP_PASSES = 1  # after the cold pass, part of the set-up
MIN_PASSES = 3
PREFIX_REPEATS = 1  # each drain prefix's wall is the median of this many noop writes
STREAM_INTERVAL_S = 0.6
STREAM_DEADLINE_S = 20.0

# every metric the benchmark prints, with its unit (BENCHMARK.json lists the same)
END_TO_END = {"cpu_s": "s", "turns_per_cpu_s": "1/s", "setup_s": "s"}
PER_LAYER = {
    "scan.s": "s",
    "scan.rows": "count",
    "scan.read_mb": "MB",
    "classify.s": "s",
    "enrich.s": "s",
    "parse.s": "s",
    "parse.rows": "count",
    "parse.parsed_frac": "frac",
    "parse.error_frac": "frac",
    "route.s": "s",
    "route.shuffle_write_mb": "MB",
    "route.skew": "ratio",
    "pipeline.summary_s": "s",
    "pipeline.fanout_writes_s": "s",
    "pipeline.lineage_s": "s",
    "pipeline.other_s": "s",
    "pipeline.chunks": "count",
    "pipeline.resume_s": "s",
    "sinks.files": "count",
    "sinks.mb": "MB",
    "aggregate.metrics_s": "s",
    "lineage.resume_scan_s": "s",
    "streaming.batches": "count",
    "streaming.batch_s": "s",
    "streaming.files_per_batch": "count",
    "streaming.backlog_max_files": "count",
    "streaming.latency_p50_s": "s",
    "streaming.latency_tail_s": "s",
    "streaming.latency_tail_pct": "pct",
    "gen.late_max_s": "s",
    "convcorpus.render_s": "s",
    "dedup.lsh_s": "s",
    "dedup.pairs": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "proc.peak_rss_mb": "MB",
    "trace.overhead_frac": "frac",
}


def _environment(work: str) -> None:
    """Point the program, Spark and every temporary file into ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["LUMBERMILL_DATA_DIR"] = os.path.join(work, "data")
    os.environ["LUMBERMILL_DRIVER_MEM"] = "2g"
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    sys.path.insert(0, ROOT)


def log(msg: str) -> None:
    print("[perfbench %7.1f s] %s" % (time.perf_counter() - T0, msg), file=sys.stderr, flush=True)


def _shutdown_jvm() -> None:
    """Stop the JVM that PySpark started and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    if gw.proc is not None:
        gw.proc.stdin.close()  # the JVM exits when its stdin closes
        gw.proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def untraced(b, cores: int, seconds: float) -> dict[str, float]:
    from perfbench.measure import tree_cpu_s

    # One set-up per run: session start, the cold pass and the warm-up passes.
    # A second set-up would need a second JVM (another 20-30 s per run) or a
    # session restart inside this one, after which the program's cached
    # Python UDFs keep reporting to the stopped session's accumulator server.
    t0 = time.perf_counter()
    b.start(cores)
    for _ in range(1 + WARMUP_PASSES):
        b.workload_pass()
    setup = time.perf_counter() - t0
    log("set-up done")
    walls, cpus = [], []
    end = time.perf_counter() + seconds
    while time.perf_counter() < end or len(walls) < MIN_PASSES:
        c0 = tree_cpu_s()
        walls.append(b.workload_pass())
        cpus.append(tree_cpu_s() - c0)
    b.stop()
    print("passes_s %s" % " ".join("%.3f" % w for w in walls))
    print("passes_cpu_s %s" % " ".join("%.2f" % c for c in cpus))
    cpu = median(cpus)
    return {"cpu_s": cpu, "turns_per_cpu_s": b.inputs.turns / cpu, "setup_s": setup}


def traced(b, cores: int) -> dict[str, float]:
    from perfbench.measure import EventLog, RssSampler, read_event_log, spark_work

    # One session: a cold pass, then untraced, traced and untraced passes
    # (the event log is attached to the running session only for traced
    # work; the two untraced passes bracket the traced one in the JVM's
    # warm-up), then every layer probe.
    b.start(cores)
    b.workload_pass()
    log("cold pass done")
    elog = EventLog(b.spark.sparkContext, os.path.join(b.work, "eventlog"))
    sampler = RssSampler()
    try:
        with sampler:
            plain = [b.workload_pass()]
        with elog.attached(), b.tracer.span("pass") as s:
            b.workload_pass()
        traced_s = s.seconds
        with sampler:
            plain.append(b.workload_pass())
        with elog.attached():
            prefix = b.prefix_probe(repeats=PREFIX_REPEATS)
    finally:
        sampler.close()
        elog.close()
    jobs, tasks = read_event_log(elog.dir)
    log("passes and prefix probe done")
    counts = b.parse_route_counts()
    with b.tracer.span("pipeline.run"):
        res, out = b.sink_pass()
    pipe = b.pipeline_probe(res, out)
    metrics_s = b.aggregate_probe(out)
    log("pipeline, lineage and aggregate probes done")
    render_s = b.render_probe()
    if b.w.kind == "drain":
        with b.tracer.span("dedup.near_dup") as s:
            b.corpus_pass()
        near_dup_s = s.seconds
    else:
        near_dup_s = median([*plain, traced_s])
    stream = b.stream_probe(STREAM_INTERVAL_S, STREAM_DEADLINE_S)
    b.stop()
    log("corpus and stream probes done")

    m: dict[str, float] = {}
    order = ["scan", "classify", "enrich", "parse", "route"]
    print("layer self time = prefix wall minus the previous prefix's wall (%d noop write(s) each):" % PREFIX_REPEATS)
    for i, cur in enumerate(order):
        base = prefix[order[i - 1]] if i else 0.0
        m[cur + ".s"] = prefix[cur] - base
        print(
            "  %-8s %.3f s = t(%s) %.3f - t(%s) %.3f"
            % (cur, m[cur + ".s"], "+".join(order[: i + 1]), prefix[cur], "+".join(order[:i]) or "nothing", base)
        )
    m["scan.rows"] = counts["rows"]
    m["scan.read_mb"] = sum(map(os.path.getsize, b.inputs.batch_files)) / 1e6
    m["parse.rows"] = counts["parsed"]
    m["parse.parsed_frac"] = counts["parsed"] / counts["rows"]
    m["parse.error_frac"] = counts["errors"] / counts["parsed"]
    m["route.shuffle_write_mb"] = median(
        [spark_work(jobs, tasks, s).shuffle_write_mb for s in b.tracer.named("prefix.route")]
    )
    m["route.skew"] = counts["skew"]
    for k in ("summary", "fanout_writes", "lineage", "other"):
        m["pipeline.%s_s" % k] = pipe[k]
    print(
        "pipeline: summary %.3f + fanout_writes %.3f + lineage %.3f + other %.3f = wall %.3f s"
        % (pipe["summary"], pipe["fanout_writes"], pipe["lineage"], pipe["other"], pipe["wall"])
    )
    m["pipeline.chunks"] = pipe["chunks"]
    m["pipeline.resume_s"] = pipe["resume_s"]
    m["sinks.files"] = pipe["files"]
    m["sinks.mb"] = pipe["mb"]
    m["aggregate.metrics_s"] = metrics_s
    m["lineage.resume_scan_s"] = pipe["resume_scan_s"]
    for k in ("batches", "batch_s", "files_per_batch", "backlog_max_files", "latency_p50_s",
              "latency_tail_s", "latency_tail_pct"):
        m["streaming." + k] = stream[k]
    m["gen.late_max_s"] = stream["late_max_s"]
    m["convcorpus.render_s"] = render_s
    m["dedup.lsh_s"] = near_dup_s - render_s
    m["dedup.pairs"] = b.pairs
    (work,) = [spark_work(jobs, tasks, s) for s in b.tracer.named("pass")]
    for k in ("jobs", "stages", "tasks", "task_s", "shuffle_write_mb", "spill_mb"):
        m["spark." + k] = getattr(work, k)
    m["proc.peak_rss_mb"] = sampler.peak_mb
    m["trace.overhead_frac"] = traced_s / median(plain) - 1.0
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "lumbermill_spark", "__init__.py")):
        print("perfbench: no lumbermill_spark package at %s" % ROOT, file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, "run-%d-%d" % (os.getpid(), time.time_ns()))
    _environment(work)

    from perfbench.workloads import WORKLOADS, Bench

    if args.workload not in WORKLOADS:
        print("perfbench: unknown workload %r (have %s)" % (args.workload, ", ".join(WORKLOADS)), file=sys.stderr)
        return 2
    # each Spark task thread feeds a Python UDF worker process, so half the
    # cores as task slots keeps the busy threads at about one per core
    cores = max(1, len(os.sched_getaffinity(0)) // 2)
    units = PER_LAYER if args.trace else END_TO_END
    try:
        b = Bench(WORKLOADS[args.workload], args.seed, work)
        b.oracles(all_layers=bool(args.trace))
        log("inputs and oracle ready")
        try:
            metrics = traced(b, cores) if args.trace else untraced(b, cores, args.seconds)
        finally:
            b.stop()
            _shutdown_jvm()
        if args.trace:
            b.tracer.dump(os.path.join(base, "traces", "%s-seed%d.json" % (args.workload, args.seed)))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if set(metrics) != set(units):
        raise RuntimeError("metrics printed differ from the declared ones: %s" % (set(metrics) ^ set(units)))
    out = b.outcome
    for r in out.reasons:
        print("FAILED: " + r, file=sys.stderr)
    for name in units:
        print("%-28s %16.6f %s" % (name, metrics[name], units[name]))
    print(
        json.dumps(
            {
                "correct": out.failed == 0,
                "attempted": out.attempted,
                "failed": out.failed,
                "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
            }
        )
    )
    return 0 if out.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
