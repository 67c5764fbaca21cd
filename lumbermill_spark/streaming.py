"""Structured Streaming variant of the pipeline.

The reference is a streaming daemon: HTTP batches arrive continuously and
posters flush micro-batches every 1 s (poster.go:53-82). The Spark-native
equivalent is a file-source readStream over the transcripts directory with a
1-second processing-time trigger and a foreachBatch sink. Each micro-batch
shares classify, parse, the sink builders (parse.SINK_BUILDERS) and the
class counter (aggregate.class_counts) with the batch pipeline, but not the
rest of pipeline.run's body: it runs no enrich, no routing exchange, writes
no ``bucket`` column and keeps no lineage ledger (a retried batch_id
overwrites its own partitions, see _write_batch), and it writes the five
sinks one after another. The windowed rollup keeps the router sink's rows
(parse.sink_keep). Tests use trigger(availableNow) for deterministic
drain-and-stop.

Ordering/watermarks: the reference never enforces event-time order (whatever
arrives is written with its parsed timestamp), so the base stream needs no
watermark; the optional windowed rollup uses withWatermark for state cleanup.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import aggregate as A
from . import classify as C
from . import parse as P
from . import schemas as S


def read_transcript_stream(spark: SparkSession, input_dir: str, max_files_per_trigger: int = 8):
    return (
        spark.readStream.schema(S.TRANSCRIPTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )


def _start(writer, out_dir: str, ckpt_name: str, checkpoint_dir: str | None,
           available_now: bool, trigger_seconds: int):
    """Shared writeStream tail: checkpoint default + drain-vs-continuous
    trigger + start (every start_* entry point funnels through here)."""
    writer = writer.option(
        "checkpointLocation", checkpoint_dir or os.path.join(out_dir, ckpt_name)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def _write_batch(df: DataFrame, batch_id: int, path: str) -> None:
    """Write one micro-batch's frame under a batch_id partition of `path`.

    Idempotent under micro-batch retry: the write is partitioned by
    batch_id and uses dynamic-partition OVERWRITE, so when Spark re-invokes
    foreachBatch with the same batch_id after a failure, the retry replaces
    the partial partition instead of appending duplicates. Combined with the
    checkpointed file source this gives end-to-end exactly-once."""
    (
        df.withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(path)
    )


def _write_sinks_batch(batch_df: DataFrame, batch_id: int, out_dir: str, parser: str) -> None:
    """One micro-batch: classify → parse → fan-out (five sinks + the batch
    class counter)."""
    parsed = P.with_parsed(C.classify(batch_df), parser=parser).persist()
    try:
        for sink, builder in P.SINK_BUILDERS.items():
            _write_batch(builder(parsed), batch_id, os.path.join(out_dir, "sinks", sink))
        _write_batch(
            A.class_counts(parsed, parsed),
            batch_id,
            os.path.join(out_dir, "metrics", "class_counts_stream"),
        )
    finally:
        parsed.unpersist()


def start_pipeline_stream(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str | None = None,
    parser: str = "pandas",
    available_now: bool = False,
    trigger_seconds: int = 1,
):
    """Start the streaming pipeline; returns the StreamingQuery.

    checkpointLocation gives exactly-once per micro-batch over the file
    source — the streaming twin of the batch lineage ledger.
    """
    stream = read_transcript_stream(spark, input_dir)
    writer = stream.writeStream.foreachBatch(
        lambda df, bid: _write_sinks_batch(df, bid, out_dir, parser)
    )
    return _start(writer, out_dir, "_checkpoint", checkpoint_dir, available_now, trigger_seconds)


def conv_running_stats_stream(
    spark: SparkSession,
    input_dir: str,
    max_files_per_trigger: int = 2,
):
    """Custom stateful operator via applyInPandasWithState: per-conversation
    running stats (turn count, max turn_idx, latest event time) maintained in
    keyed state across micro-batches — the Spark-native analog of the
    reference's long-lived per-token mutable state (drain.go's recentTokens
    sampler + per-token counters held in process memory for the daemon's
    lifetime). Emits one updated row per touched conversation per batch
    (output mode 'update').

    Scale shape: state is partitioned by conv_id (the same key the batch
    pipeline buckets on), so each executor owns a shard of conversations and
    no state ever crosses the wire after the initial shuffle."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    stream = read_transcript_stream(spark, input_dir, max_files_per_trigger)
    out_type = "conv_id string, n_turns long, max_turn_idx int, last_ts timestamp"
    state_type = "n long, max_idx int, last_ts timestamp"

    def update(key, pdfs, state):
        import pandas as pd

        if state.exists:
            n, max_idx, last_ts = state.get
        else:
            n, max_idx, last_ts = 0, -1, None
        for pdf in pdfs:
            n += len(pdf)
            max_idx = max(max_idx, int(pdf["turn_idx"].max()))
            batch_max = pdf["ts"].max()
            if last_ts is None or batch_max > last_ts:
                last_ts = batch_max
        state.update((n, max_idx, last_ts))
        yield pd.DataFrame(
            {
                "conv_id": [key[0]],
                "n_turns": [n],
                "max_turn_idx": [max_idx],
                "last_ts": [last_ts],
            }
        )

    return stream.groupBy("conv_id").applyInPandasWithState(
        update, out_type, state_type, "update", GroupStateTimeout.NoTimeout
    )


def sink_freshness_stream(
    spark: SparkSession,
    input_dir: str,
    parser: str = "pandas",
    max_files_per_trigger: int = 8,
) -> DataFrame:
    """Streaming twin of the health check's freshness data (http.go:129-150 +
    aggregate.stale_tokens): per (token, dyno series) latest event time,
    maintained INCREMENTALLY as micro-batches arrive instead of rescanning
    the written sinks. Same parse → sink-projection path as batch (one code
    path), then a complete-mode max() aggregation — state is exactly one row
    per (token, series), the smallest possible streaming state."""
    stream = read_transcript_stream(spark, input_dir, max_files_per_trigger)
    parsed = P.with_parsed(C.classify(stream), parser=parser)
    return A.dyno_latest(P.sink_dyno_load(parsed), P.sink_dyno_mem(parsed))


def start_freshness_stream(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str | None = None,
    parser: str = "pandas",
    available_now: bool = False,
    trigger_seconds: int = 1,
    max_files_per_trigger: int = 8,
):
    """PRODUCTION freshness twin (round-3 verdict, next #7): the complete-mode
    memory sink stays test-only; this runs the same incremental max()
    aggregation in UPDATE mode, so each micro-batch hands foreachBatch only
    the (token, series) groups whose latest_time actually changed, and those
    deltas are appended to a parquet log (idempotent batch_id
    dynamic-overwrite, same retry contract as the sink writes).
    freshness_view() folds the log back to one row per (token, series) — the
    classic upsert-log + compaction-view shape a parquet file sink supports
    at any scale (a table format would replace the log with MERGE)."""
    agg_df = sink_freshness_stream(spark, input_dir, parser, max_files_per_trigger)
    log_dir = os.path.join(out_dir, "metrics", "freshness_log")
    writer = agg_df.writeStream.outputMode("update").foreachBatch(
        lambda df, bid: _write_batch(df, bid, log_dir)
    )
    return _start(writer, out_dir, "_ckpt_freshness", checkpoint_dir, available_now, trigger_seconds)


def freshness_view(spark: SparkSession, out_dir: str) -> DataFrame:
    """Current freshness from the update-mode delta log: the latest update
    per (token, series). Monotone max() means a plain max over the log —
    no batch_id ordering needed. Before the first micro-batch has written
    anything the log directory doesn't exist yet — return an empty frame,
    not PATH_NOT_FOUND (monitoring callers poll this).

    Concurrency note: start_freshness_stream's retry path overwrites a
    batch_id partition dynamically (delete + rewrite), so a poll that lists
    a file the stream then replaces would hit FileNotFoundException mid-job.
    The read sets ignoreMissingFiles so such a file contributes nothing to
    that poll — safe here because every batch_id partition's content is
    monotone (a max() fold misses at most an update the next poll sees)."""
    from . import fsio

    log_dir = os.path.join(out_dir, "metrics", "freshness_log")
    if not fsio.exists(spark, log_dir):
        return spark.createDataFrame([], "token string, series string, latest_time long")
    return (
        spark.read.option("ignoreMissingFiles", "true")
        .parquet(log_dir)
        .groupBy("token", "series")
        .agg(F.max("latest_time").alias("latest_time"))
    )


def start_windowed_rollup_stream(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str | None = None,
    window: str = "1 minute",
    watermark: str = "5 minutes",
    available_now: bool = False,
    trigger_seconds: int = 1,
    max_files_per_trigger: int = 1,
):
    """PRODUCTION windowed-rollup twin: append-mode parquet FILE sink — each
    event-time window is written exactly once, when the watermark finalizes
    it (late rows beyond the watermark are dropped, state is bounded). The
    tail windows still open at shutdown are emitted by the next run from the
    checkpoint — the streaming analog of the batch chunk ledger. NB append
    mode emits a window one micro-batch AFTER the watermark passes it, so a
    drain needs >1 batch (max_files_per_trigger defaults low)."""
    rolled = windowed_rollup_stream(spark, input_dir, window, watermark, max_files_per_trigger)
    flat = rolled.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        "n_requests",
        "p50_service",
    )
    writer = (
        flat.writeStream.format("parquet")
        .outputMode("append")
        .option("path", os.path.join(out_dir, "metrics", "router_rollup_windowed"))
    )
    return _start(writer, out_dir, "_ckpt_rollup", checkpoint_dir, available_now, trigger_seconds)


def start_delivery_log_stream(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str | None = None,
    parser: str = "pandas",
    watermark: str = "2 minutes",
    available_now: bool = False,
    trigger_seconds: int = 1,
    max_files_per_trigger: int = 1,
):
    """Streaming twin of aggregate.delivery_log — the poster's per-flush
    delivery sizes (poster.go:35-38,62-82) maintained incrementally: each
    (sink, token, 1-second event-time window) delivery row is emitted
    exactly once when the watermark finalizes it, through the append-mode
    parquet file sink. aggregate.delivery_size_rollup-style distributions
    are then a read-side aggregation over the log."""
    stream = read_transcript_stream(spark, input_dir, max_files_per_trigger)
    cl = C.classify(stream).withWatermark("ts", watermark)
    parsed = P.with_parsed(cl, parser=parser)
    rows = parsed.select(
        P.sink_label().alias("sink"), "token", "ts"
    ).filter(F.col("sink").isNotNull())
    log = rows.groupBy("sink", "token", F.window("ts", "1 second")).agg(
        F.count("*").alias("sz")
    )
    flat = log.select(
        "sink",
        "token",
        F.unix_micros(F.col("window.start")).alias("window_start_us"),
        "sz",
    )
    writer = (
        flat.writeStream.format("parquet")
        .outputMode("append")
        .option("path", os.path.join(out_dir, "metrics", "delivery_log"))
    )
    return _start(writer, out_dir, "_ckpt_delivery", checkpoint_dir, available_now, trigger_seconds)


def windowed_rollup_stream(
    spark: SparkSession,
    input_dir: str,
    window: str = "1 minute",
    watermark: str = "5 minutes",
    max_files_per_trigger: int = 8,
) -> DataFrame:
    """Event-time windowed router-request rollup with late-data watermark —
    the streaming analog of aggregate.router_rollup_windowed: its rows are
    the router sink's (parse.sink_keep), so parse-error rows are not
    counted."""
    stream = read_transcript_stream(spark, input_dir, max_files_per_trigger)
    cl = C.classify(stream).withWatermark("ts", watermark)
    router = P.with_parsed(cl).filter(P.sink_keep(S.SINK_ROUTER))
    return router.groupBy(F.window("ts", window)).agg(
        F.count("*").alias("n_requests"),
        F.percentile_approx("p.service", 0.5).alias("p50_service"),
    )


def start_cms_stream(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str | None = None,
    available_now: bool = False,
    trigger_seconds: int = 1,
    max_files_per_trigger: int = 8,
):
    """Streaming count-min sketch over the transcript text stream: every
    micro-batch writes ITS OWN partial sketch cells partitioned by batch_id
    (dynamic-partition overwrite — idempotent under micro-batch retry, the
    same exactly-once recipe as the sink stream), and the live sketch is
    the cell-wise SUM over batches. That merge is exactly the mergeability
    count-min guarantees, so the drained stream's folded sketch EQUALS the
    batch sketch bit for bit (pinned by pytest) while per-batch state stays
    bounded at CMS_DEPTH×CMS_WIDTH cells no matter how long the stream
    runs."""
    from .extras import sketch

    stream = read_transcript_stream(spark, input_dir, max_files_per_trigger)

    cells = os.path.join(out_dir, "cms_cells")
    writer = stream.writeStream.foreachBatch(
        lambda df, bid: _write_batch(sketch.cms_build(df, text_col="text"), bid, cells)
    )
    return _start(writer, out_dir, "_cms_checkpoint", checkpoint_dir, available_now, trigger_seconds)


def cms_view(spark: SparkSession, out_dir: str) -> DataFrame:
    """The merged live sketch: cell-wise sum across micro-batch partials —
    readable while the stream runs (same transient-read caveat as
    freshness_view)."""
    cells = spark.read.parquet(os.path.join(out_dir, "cms_cells"))
    return cells.groupBy("row", "bucket").agg(F.sum("cnt").cast("bigint").alias("cnt"))


def start_bloom_stream(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str | None = None,
    available_now: bool = False,
    trigger_seconds: int = 1,
    max_files_per_trigger: int = 8,
):
    """Streaming bloom-filter build over the transcript text stream: each
    micro-batch writes its fingerprints' SET BITS partitioned by batch_id
    (dynamic-overwrite, retry-idempotent), and the live filter is the
    DISTINCT UNION of bits across batches — bloom's merge is bitwise OR, so
    the drained stream's folded filter EQUALS the batch-built filter
    (pytest-pinned), with at most BLOOM_BITS live rows no matter how long
    the stream runs. The day-2 use: the filter built from everything
    ingested so far pre-screens tomorrow's crawl before the exact
    anti-join (sketch.bloom_prefilter)."""
    from .extras import sketch, textstats

    stream = read_transcript_stream(spark, input_dir, max_files_per_trigger)

    def write_batch(df: DataFrame, batch_id: int) -> None:
        fps = df.filter(F.col("conv_id").isNotNull()).select(
            textstats.fingerprint(F.col("text")).alias("fingerprint")
        )
        _write_batch(sketch.bloom_build(fps), batch_id, os.path.join(out_dir, "bloom_bits"))

    writer = stream.writeStream.foreachBatch(write_batch)
    return _start(
        writer, out_dir, "_bloom_checkpoint", checkpoint_dir, available_now, trigger_seconds
    )


def bloom_view(spark: SparkSession, out_dir: str) -> DataFrame:
    """The merged live filter: distinct set bits across micro-batch
    partials (bitwise OR, relationally)."""
    return (
        spark.read.parquet(os.path.join(out_dir, "bloom_bits")).select("pos").distinct()
    )


def start_hll_stream(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str | None = None,
    available_now: bool = False,
    trigger_seconds: int = 1,
    max_files_per_trigger: int = 8,
):
    """Streaming HyperLogLog over the transcript token stream: each
    micro-batch writes its own REGISTER partials (batch_id
    dynamic-overwrite, retry-idempotent) and the live sketch is the
    per-register MAX across batches — HLL's merge operator — so the drained
    stream's folded registers EQUAL the batch-built registers exactly
    (pytest-pinned). Completes the streaming sketch trio: CMS merges by
    cell-wise ADD, bloom by bit OR, HLL by register MAX; each keeps bounded
    state at any stream length."""
    from .extras import sketch

    stream = read_transcript_stream(spark, input_dir, max_files_per_trigger)

    regs = os.path.join(out_dir, "hll_regs")
    writer = stream.writeStream.foreachBatch(
        lambda df, bid: _write_batch(sketch.hll_registers(df, "text"), bid, regs)
    )
    return _start(
        writer, out_dir, "_hll_checkpoint", checkpoint_dir, available_now, trigger_seconds
    )


def hll_view(spark: SparkSession, out_dir: str) -> DataFrame:
    """The merged live registers: per-bucket max across micro-batch
    partials."""
    regs = spark.read.parquet(os.path.join(out_dir, "hll_regs"))
    return regs.groupBy("bucket").agg(F.max("reg").cast("int").alias("reg"))
