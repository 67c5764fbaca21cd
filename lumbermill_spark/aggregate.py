"""Aggregates: the reference's side-channel metrics re-expressed as DataFrame
aggregations (SURVEY §2.1 #23-24).

* ``class_counts`` — the 9-way line-class counters plus total lines and the
  logfmt-parse-error counter (drain.go:27-47, drain.go:69-72). These counts
  are the per-sink aggregate-equality contract of the north_rule.
* ``router_error_code_counts`` — the dynamic per-code counter
  ``lumbermill.lines.router.errors.<code>`` (drain.go:147); in the reference
  it only increments after a successful Unmarshal, so parse-error rows are
  excluded.
* ``router_rollup`` — per-token latency rollup: count + mean + exact
  p50/p95/p99 of service ms (the reference exports reservoir-sampled
  percentiles, main.go:141 + go-metrics/sample.go:271-295; we compute exact
  percentiles over ALL rows — documented improvement, SURVEY §7.4.6).
* ``router_rollup_windowed`` — the same over event-time windows (ts-window
  rollups per north_star).
* ``sink_freshness`` — max(time) per token per sink: the health-check scan
  (http.go:129-150) as a batch aggregate.

Catalyst gives partial (map-side) + final aggregation for all of these
automatically — no hand-rolled combiners.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import parse as P
from . import schemas as S


def class_counts(classified: DataFrame, parsed: DataFrame | None = None) -> DataFrame:
    """counter name → count. Includes `lines` (total) and, when a parsed
    frame is supplied, `logfmt_parse_error` (rows dropped by parse policy).

    Single-pass: each row emits its counter keys (msg_class, 'lines', and
    conditionally 'logfmt_parse_error') through one explode, then ONE
    groupBy. The round-1 3-way union re-evaluated the (deliberately
    nondeterministic-fenced, so non-dedupable) parse UDF once per branch —
    3 full parse passes for one tiny counter table."""
    src = parsed if parsed is not None else classified
    keys = [F.col("msg_class"), F.lit("lines")]
    if parsed is not None:
        tags = F.concat(
            F.array(*keys),
            F.when(F.col("p.parse_error"), F.array(F.lit("logfmt_parse_error"))).otherwise(
                F.array().cast("array<string>")
            ),
        )
    else:
        tags = F.array(*keys)
    return (
        src.select(F.explode(tags).alias("counter"))
        .groupBy("counter")
        .agg(F.count("*").alias("n"))
    )


def router_error_code_counts(parsed: DataFrame) -> DataFrame:
    """drain.go:147 — per H-code counts, post-successful-parse only."""
    return (
        parsed.filter(P.sink_keep(S.SINK_EVENTS_ROUTER))
        .groupBy(F.col("p.error_code").alias("code"))
        .agg(F.count("*").alias("n"))
    )


def router_rollup(router_sink: DataFrame) -> DataFrame:
    """Per-token service-time rollup with exact interpolated percentiles."""
    return router_sink.groupBy("token").agg(
        F.count("*").alias("n_requests"),
        F.round(F.avg("service"), 6).alias("avg_service"),
        F.round(F.expr("percentile(service, 0.5)"), 6).alias("p50_service"),
        F.round(F.expr("percentile(service, 0.95)"), 6).alias("p95_service"),
        F.round(F.expr("percentile(service, 0.99)"), 6).alias("p99_service"),
        F.sum(F.when(F.col("status") >= 500, 1).otherwise(0)).alias("n_5xx"),
    )


def router_rollup_windowed(router_sink: DataFrame, window_seconds: int = 60) -> DataFrame:
    """Event-time tumbling-window rollup. The window key is computed as
    integer µs floor-division (identical in every engine) rather than
    F.window structs, so the DuckDB oracle can replay the bucketing exactly;
    window_start_us = epoch µs of the window's start."""
    w_us = window_seconds * 1_000_000
    return (
        router_sink.withColumn(
            "window_start_us", (F.col("time") - (F.col("time") % w_us)).cast("bigint")
        )
        .groupBy("window_start_us")
        .agg(
            F.count("*").alias("n_requests"),
            F.round(F.expr("percentile(service, 0.5)"), 6).alias("p50_service"),
            F.round(F.expr("percentile(service, 0.99)"), 6).alias("p99_service"),
        )
    )


def sink_freshness(sink_df: DataFrame) -> DataFrame:
    """http.go:129-150 analog: latest point per token (staleness check input)."""
    return sink_df.groupBy("token").agg(F.max("time").alias("latest_time"))


STALE_TIMEOUT_MICROS = 24 * 60 * 1_000_000  # influxDbStaleTimeout, http.go:14


def dyno_latest(dyno_load: DataFrame, dyno_mem: DataFrame) -> DataFrame:
    """Latest point time per token per dyno series (load, mem): the
    health check's freshness data (http.go:129-150), shared by
    stale_tokens and the streaming twin (streaming.sink_freshness_stream)."""
    u = (
        dyno_load.select("token", "time").withColumn("series", F.lit("dyno_load"))
        .unionByName(dyno_mem.select("token", "time").withColumn("series", F.lit("dyno_mem")))
    )
    return u.groupBy("token", "series").agg(F.max("time").alias("latest_time"))


def stale_tokens(dyno_load: DataFrame, dyno_mem: DataFrame, as_of_micros: int | None = None) -> DataFrame:
    """The health check's staleness predicate (http.go:14 + checkRecentToken,
    http.go:129-155): per token per dyno series (load, mem), the latest point
    time; stale when as_of − latest > 24 minutes. as_of defaults to the
    dataset max time — the deterministic batch replay of ``time.Now()``.

    Scale shape: one union + one groupBy; the scalar as_of is a broadcast
    single-row cross join, never a driver round-trip in the plan."""
    latest = dyno_latest(dyno_load, dyno_mem)
    if as_of_micros is not None:
        as_of = F.lit(as_of_micros)
        latest = latest.withColumn("as_of", as_of)
    else:
        latest = latest.crossJoin(
            F.broadcast(latest.agg(F.max("latest_time").alias("as_of")))
        )
    return latest.select(
        "token",
        "series",
        "latest_time",
        ((F.col("as_of") - F.col("latest_time")) > STALE_TIMEOUT_MICROS).alias("stale"),
    )


def dyno_type_rollup(dyno_load_sink: DataFrame) -> DataFrame:
    """Per dyno-type load rollup (the reference's dyno.load series grouped by
    dynoType, drain.go:49-54 + points.go). Sums are fixed-point micro-units
    (floor(x·1e6) as bigint): a float sum's value depends on reduction order,
    which differs between a distributed partial agg and any single-node
    oracle — integer micro-units are order-independent and exact."""
    mu = lambda c: F.floor(F.col(c) * 1_000_000).cast("bigint")  # noqa: E731
    return dyno_load_sink.groupBy("dyno_type", "source").agg(
        F.count("*").alias("n"),
        F.min("load_avg_1m").alias("min_1m"),
        F.max("load_avg_1m").alias("max_1m"),
        F.sum(mu("load_avg_1m")).alias("sum_1m_micro"),
        F.sum(mu("load_avg_5m")).alias("sum_5m_micro"),
        F.sum(mu("load_avg_15m")).alias("sum_15m_micro"),
    )


def top_tokens(router_sink: DataFrame, k: int = 10) -> DataFrame:
    """Exact top-k heavy hitters by router request count, deterministic
    tie-break (count desc, token asc). The global sort runs on the
    ALREADY-AGGREGATED per-token counts (|tokens| ≪ |rows|), so the
    single-partition window is a few-MB final step, not a data-path sort."""
    from pyspark.sql import Window

    counts = router_sink.groupBy("token").agg(F.count("*").alias("n_requests"))
    w = Window.orderBy(F.col("n_requests").desc(), F.col("token").asc())
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("rank", "token", "n_requests")
    )


DELIVERY_WINDOW_US = 1_000_000  # the poster's 1 s flush tick (poster.go:53)


def delivery_log(parsed: DataFrame) -> DataFrame:
    """One row per DELIVERY — (sink, token, 1-second event-time bucket) with
    its point count — the deterministic batch replay of 'drain ≤1 s of
    channel, group by SeriesName()' (poster.go:62-82; series name =
    <seriesName>.<token>, points.go:42-44). Shared by the batch rollup and
    the streaming twin (streaming.start_delivery_log_stream)."""
    return (
        parsed.select(P.sink_label().alias("sink"), "token", "time")
        .filter(F.col("sink").isNotNull())
        .withColumn(
            "window_start_us",
            (F.col("time") - F.col("time") % DELIVERY_WINDOW_US).cast("bigint"),
        )
        .groupBy("sink", "token", "window_start_us")
        .agg(F.count("*").alias("sz"))
    )


def delivery_size_rollup(parsed: DataFrame) -> DataFrame:
    """poster.go:35-38 ``<sink>.deliver.sizes`` analog: per-sink distribution
    of points per delivery (delivery_log above); integer µs floor-division
    bucketing (engine-portable, like router_rollup_windowed) and exact
    percentiles over all deliveries (same policy as batch_size_rollup).
    Completes SURVEY §2.1 #24's last sliver."""
    sizes = delivery_log(parsed)
    return sizes.groupBy("sink").agg(
        F.count("*").alias("n_deliveries"),
        F.round(F.avg("sz"), 6).alias("mean_sz"),
        F.min("sz").alias("min_sz"),
        F.max("sz").alias("max_sz"),
        F.round(F.expr("percentile(sz, 0.5)"), 6).alias("p50_sz"),
        F.round(F.expr("percentile(sz, 0.95)"), 6).alias("p95_sz"),
        F.round(F.expr("percentile(sz, 0.99)"), 6).alias("p99_sz"),
    )


def batch_size_rollup(split_frames: DataFrame) -> DataFrame:
    """drain.go:46 ``lumbermill.batches.sizes`` — the frames-per-batch
    distribution. Exact percentiles over ALL batches instead of the
    reference's 100-slot uniform reservoir (documented improvement, same
    policy as router_rollup)."""
    sizes = split_frames.groupBy("batch_id").agg(F.count("*").alias("sz"))
    return sizes.agg(
        F.count("*").alias("n_batches"),
        F.round(F.avg("sz"), 6).alias("mean_sz"),
        F.min("sz").alias("min_sz"),
        F.max("sz").alias("max_sz"),
        F.round(F.expr("percentile(sz, 0.5)"), 6).alias("p50_sz"),
        F.round(F.expr("percentile(sz, 0.95)"), 6).alias("p95_sz"),
        F.round(F.expr("percentile(sz, 0.99)"), 6).alias("p99_sz"),
    )
