"""The benchmark's passes and layer probes, each a call into the program's
public functions with its output checked against the oracle."""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field
from datetime import datetime
from functools import cached_property
from statistics import median

import duckdb
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from lumbermill_spark import aggregate, classify, enrich, lineage, parse, pipeline, route, session, sinks
from lumbermill_spark import schemas as S
from lumbermill_spark import streaming
from lumbermill_spark.extras import convcorpus

from . import inputs as I
from .measure import Tracer, tail_percentile

N_BUCKETS = pipeline.PipelineConfig().n_buckets


# batch input files: one Spark task each, so every core has work
PARTS = 8
# the open-loop stream probe: one warm-up file, then 20 on the schedule
STREAM_FILES = 21
STREAM_FILE_TURNS = 400


@dataclass(frozen=True)
class Workload:
    name: str
    turns: int  # rows of the seeded transcripts table
    kind: str  # 'drain': noop-sink pipeline.run | 'corpus': near_dup_conversations


WORKLOADS = {
    w.name: w
    for w in [
        Workload("drain_noop", 60_000, "drain"),
        Workload("corpus_dedup", 20_000, "corpus"),
    ]
}


@dataclass
class Outcome:
    """Operations attempted and failed, with the reason for each failure."""

    attempted: int = 0
    failed: int = 0
    reasons: list[str] = field(default_factory=list)

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.reasons.append(what)
        return ok


class Bench:
    """One benchmark process: its work directory, seeded inputs, oracle values
    and the Spark session under test."""

    def __init__(self, workload: Workload, seed: int, work: str):
        self.w = workload
        self.work = work
        self.outcome = Outcome()
        self.tracer = Tracer()
        self.spark: SparkSession | None = None
        self._runs = 0
        self.pairs = 0  # rows of the last near-dup pass
        self.inputs = I.write_inputs(
            workload.turns, seed, os.path.join(work, "in"), PARTS, STREAM_FILES, STREAM_FILE_TURNS
        )
        self.con = duckdb.connect()

    # oracle values, each computed on first use and before any timed region
    # that needs it (run.py calls oracles() before the first pass)

    @cached_property
    def expected(self) -> I.Expected:
        return I.drain_expected(self.con, os.path.join(self.inputs.batch_dir, "*.parquet"))

    @cached_property
    def expected_pairs(self) -> set[tuple]:
        return I.near_dup_expected(self.con, os.path.join(self.inputs.batch_dir, "*.parquet"))

    @cached_property
    def expected_stream(self) -> I.Expected:
        return I.drain_expected(self.con, os.path.join(os.path.dirname(self.inputs.stream_files[0]), "*.parquet"))

    def oracles(self, all_layers: bool) -> None:
        """Compute the oracle values the run will compare against: the
        workload's own, or (for a traced run) every probe's as well."""
        if all_layers or self.w.kind == "drain":
            self.expected
        if all_layers or self.w.kind == "corpus":
            self.expected_pairs
        if all_layers:
            self.expected_stream

    # --- session -------------------------------------------------------------

    def start(self, cores: int) -> None:
        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # the heap starts at its full size, so its growth does not land
            # in the measured passes
            "spark.driver.extraJavaOptions": "-Djava.io.tmpdir=%s -XX:-UsePerfData -Xms%s"
            % (os.environ["TMPDIR"], os.environ["LUMBERMILL_DRIVER_MEM"]),
        }
        self.spark = session.get_spark("perfbench", master="local[%d]" % cores, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def _out(self, tag: str) -> str:
        self._runs += 1
        return os.path.join(self.work, "out", "%s-%03d" % (tag, self._runs))

    # --- end-to-end passes -----------------------------------------------------

    def sink_pass(self) -> tuple[pipeline.PipelineResult, str]:
        """pipeline.run with parquet sinks, metrics and lineage into a fresh
        output directory; checks counters and the rows written."""
        out = self._out("sink")
        res = pipeline.run(self.spark, self.inputs.batch_dir, out, pipeline.PipelineConfig())
        self.outcome.check(
            self.expected.matches(res.sink_rows, res.class_counts)
            and I.sink_rows_on_disk(self.con, out) == self.expected.sink_rows,
            "parquet drain output differs from the oracle",
        )
        return res, out

    def noop_pass(self) -> float:
        """pipeline.run with the noop sink: parse, route and aggregate only."""
        cfg = pipeline.PipelineConfig(sink_format="noop", write_metrics=False)
        t0 = time.perf_counter()
        res = pipeline.run(self.spark, self.inputs.batch_dir, self._out("noop"), cfg)
        wall = time.perf_counter() - t0
        self.outcome.check(
            self.expected.matches(res.sink_rows, res.class_counts), "noop drain counters differ from the oracle"
        )
        return wall

    def corpus_pass(self) -> float:
        """near_dup_conversations over the transcripts, pairs collected."""
        t0 = time.perf_counter()
        rows = convcorpus.near_dup_conversations(self.spark.read.parquet(self.inputs.batch_dir)).collect()
        wall = time.perf_counter() - t0
        self.pairs = len(rows)
        self.outcome.check(
            I.norm_pairs([(r["doc_a"], r["doc_b"], r["sim"]) for r in rows]) == self.expected_pairs,
            "near-dup pairs differ from the oracle",
        )
        return wall

    def workload_pass(self) -> float:
        return self.noop_pass() if self.w.kind == "drain" else self.corpus_pass()

    # --- layer probes (traced run) ----------------------------------------------

    def _noop_write(self, df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def _timed(self, name: str, fn, pass_id: int | None = None) -> float:
        self.spark.sparkContext.setJobDescription(name)
        try:
            with self.tracer.span(name, pass_id) as s:
                fn()
        finally:
            self.spark.sparkContext.setJobDescription(None)
        return s.seconds

    def drain_frames(self):
        """The drain's layers as cumulative frames, in pipeline.run's order."""
        scan = self.spark.read.parquet(self.inputs.batch_dir)
        cls = classify.classify(scan)
        enr = enrich.enrich(cls, enrich.load_dims(self.spark))
        parsed = parse.with_parsed(enr)
        nshuffle = 4 * int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        routed = route.salted_repartition(parsed, nshuffle)
        return [("scan", scan), ("classify", cls), ("enrich", enr), ("parse", parsed), ("route", routed)]

    def prefix_probe(self, repeats: int) -> dict[str, float]:
        """Median wall of each prefix (scan, +classify, ..., +route), each
        forced by a noop write."""
        frames = self.drain_frames()
        walls: dict[str, list[float]] = {name: [] for name, _ in frames}
        for r in range(repeats):
            for name, df in frames:
                walls[name].append(self._timed("prefix." + name, lambda df=df: self._noop_write(df), r))
        return {name: median(v) for name, v in walls.items()}

    def parse_route_counts(self) -> dict[str, float]:
        """Rows handed to the parser, parse errors, and the partition skew
        after salted_repartition (untimed)."""
        frames = dict(self.drain_frames())
        row = (
            frames["parse"]
            .agg(
                F.count("*").alias("rows"),
                F.sum(F.col("msg_class").isin(S.PARSED_CLASSES).cast("long")).alias("parsed"),
                F.sum((F.col("msg_class").isin(S.PARSED_CLASSES) & F.col("p.parse_error")).cast("long")).alias(
                    "errors"
                ),
            )
            .first()
        )
        sizes = [
            r["count"]
            for r in frames["route"].groupBy(F.spark_partition_id().alias("pid")).count().collect()
        ]
        nparts = frames["route"].rdd.getNumPartitions()
        return {
            "rows": row["rows"],
            "parsed": row["parsed"],
            "errors": row["errors"],
            "skew": max(sizes) / (sum(sizes) / nparts),
        }

    def aggregate_probe(self, out: str) -> float:
        """The read-back metrics of a finished pipeline.run (error codes and
        aggregate.router_rollup over its router sink chunks), noop-written."""
        sink = sinks.make_sink(self.spark, "parquet", N_BUCKETS)
        (chunk_id,) = lineage.done_chunk_ids(self.spark, out)

        def metrics() -> None:
            er = sink.read_chunk(self.spark, os.path.join(out, "sinks", S.SINK_EVENTS_ROUTER), chunk_id)
            self._noop_write(er.groupBy("code").agg(F.count("*").alias("n")))
            rt = sink.read_chunk(self.spark, os.path.join(out, "sinks", S.SINK_ROUTER), chunk_id)
            self._noop_write(aggregate.router_rollup(rt))

        return self._timed("aggregate.metrics", metrics)

    def pipeline_probe(self, res: pipeline.PipelineResult, out: str) -> dict[str, float]:
        """Phases of one finished pipeline.run, its sink files, and the resume
        path on its output (ledger scan, then a resume=True call)."""
        phases = {k: res.timings.get(k, 0.0) for k in ("summary", "fanout_writes", "lineage")}
        mb, files = I.tree_bytes_files(os.path.join(out, "sinks"))

        def scan() -> None:
            lineage.cleanup_orphans(self.spark, out)
            lineage.completed_files_df(self.spark, out).count()

        scan_s = self._timed("lineage.resume_scan", scan)
        holder = {}
        cfg = pipeline.PipelineConfig()
        resume_s = self._timed(
            "pipeline.resume",
            lambda: holder.setdefault("r", pipeline.run(self.spark, self.inputs.batch_dir, out, cfg, resume=True)),
        )
        self.outcome.check(
            holder["r"].chunks == 0 and I.sink_rows_on_disk(self.con, out) == self.expected.sink_rows,
            "resume on a finished output redid work or changed rows",
        )
        return {
            **phases,
            "other": res.seconds - sum(phases.values()),
            "wall": res.seconds,
            "chunks": res.chunks,
            "files": files,
            "mb": mb / 1e6,
            "resume_scan_s": scan_s,
            "resume_s": resume_s,
        }

    def render_probe(self) -> float:
        df = self.spark.read.parquet(self.inputs.batch_dir)
        return self._timed("convcorpus.render", lambda: self._noop_write(convcorpus.render_conversations(df)))

    def stream_probe(self, interval_s: float, deadline_s: float) -> dict[str, float]:
        """Open loop: one generator thread moves the staged files into the
        watched directory on a fixed schedule while the streaming pipeline
        runs. A file's latency runs from its due time to the end of the
        micro-batch that committed it."""
        root = self._out("stream")
        watch, out, ckpt = (os.path.join(root, d) for d in ("watch", "out", "ckpt"))
        os.makedirs(watch)
        files = self.inputs.stream_files
        warm, scheduled = files[0], files[1:]
        q = streaming.start_pipeline_stream(self.spark, watch, out, checkpoint_dir=ckpt)
        try:
            with self.tracer.span("stream.warmup"):
                os.rename(warm, os.path.join(watch, os.path.basename(warm)))
                _wait_rows(q, STREAM_FILE_TURNS, 60.0)
            due: dict[str, float] = {}
            late: list[float] = []
            with self.tracer.span("stream.open_loop"):
                # the generator is this thread; Spark runs the query on its own
                t0 = time.time() + 0.5
                for i, f in enumerate(scheduled):
                    when = t0 + i * interval_s
                    time.sleep(max(0.0, when - time.time()))
                    dst = os.path.join(watch, os.path.basename(f))
                    os.rename(f, dst)
                    late.append(time.time() - when)
                    due["file://" + dst] = when
                _wait_rows(q, self.inputs.stream_turns, t0 + len(scheduled) * interval_s + deadline_s - time.time())
        finally:
            q.stop()
        batch_end = {}
        batch_start = {}
        for p in q.recentProgress:
            if p["numInputRows"] > 0:
                start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
                batch_start[p["batchId"]] = start
                batch_end[p["batchId"]] = start + p["durationMs"]["triggerExecution"] / 1000.0
        batch_of = _file_batches(os.path.join(ckpt, "sources", "0"))
        lat = []
        committed_at = {}
        for path, when in due.items():
            b = batch_of.get(path)
            if b in batch_end and batch_end[b] - when <= deadline_s:
                lat.append(batch_end[b] - when)
                committed_at[path] = batch_end[b]
        self.outcome.check(len(lat) == len(due), "stream file not committed by its deadline")
        self.outcome.check(max(late) <= interval_s, "open-loop generator fell behind its schedule")
        self.outcome.check(
            I.sink_rows_on_disk(self.con, out) == self.expected_stream.sink_rows,
            "stream sink rows differ from the oracle",
        )
        used = sorted({batch_of[p] for p in due if p in batch_of and batch_of[p] in batch_end})
        backlog = max(
            sum(w <= t for w in due.values()) - sum(c <= t for c in committed_at.values())
            for t in [*due.values(), *batch_start.values()]
        )
        tail = tail_percentile(lat) or (100.0, max(lat))
        return {
            "batches": len(used),
            "batch_s": median([batch_end[b] - batch_start[b] for b in used]),
            "files_per_batch": len(lat) / len(used),
            "backlog_max_files": backlog,
            "late_max_s": max(late),
            "latency_p50_s": median(lat),
            "latency_tail_s": tail[1],
            "latency_tail_pct": tail[0],
        }


def _wait_rows(q, rows: int, timeout_s: float) -> None:
    """Block until the query has taken ``rows`` input rows in finished
    batches, or the timeout passes."""
    end = time.time() + max(timeout_s, 0.0)
    while time.time() < end:
        if sum(p["numInputRows"] for p in q.recentProgress) >= rows:
            return
        time.sleep(0.05)


def _file_batches(source_log: str) -> dict[str, int]:
    """File path -> micro-batch id from a file-source checkpoint log (plain
    and compacted entries)."""
    out = {}
    for name in os.listdir(source_log):
        if name.startswith("."):
            continue
        with open(os.path.join(source_log, name)) as fh:
            for line in fh.read().splitlines()[1:]:  # first line is the version
                if line.strip():
                    e = json.loads(line)
                    out[e["path"]] = e["batchId"]
    return out
