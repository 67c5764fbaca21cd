"""Structured Streaming variant: drain a parquet directory with
trigger(availableNow), verify the streamed sinks equal the batch sinks, and
that checkpointed restart doesn't duplicate (exactly-once per micro-batch)."""

import os

import pytest

from lumbermill_spark import classify, parse, streaming
from lumbermill_spark.datagen import ensure_transcripts


@pytest.fixture(scope="module")
def stream_input(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("stream_in"))
    spark.read.parquet(ensure_transcripts(0.001)).limit(6000).repartition(3).write.mode(
        "overwrite"
    ).parquet(p)
    return p


def test_stream_equals_batch(spark, stream_input, tmp_path):
    out = str(tmp_path / "out")
    q = streaming.start_pipeline_stream(spark, stream_input, out, available_now=True)
    q.awaitTermination(300)

    batch_parsed = parse.with_parsed(classify.classify(spark.read.parquet(stream_input)))
    for sink, builder in parse.SINK_BUILDERS.items():
        want_df = builder(batch_parsed)
        cols = want_df.columns  # streamed sinks add a batch_id partition column
        got = sorted(
            tuple(r)
            for r in spark.read.parquet(os.path.join(out, "sinks", sink)).select(*cols).collect()
        )
        want = sorted(tuple(r) for r in want_df.collect())
        assert got == want, f"stream/batch divergence in {sink}"

    # restart from checkpoint with no new data → no duplicates
    n_before = spark.read.parquet(os.path.join(out, "sinks", "router")).count()
    q2 = streaming.start_pipeline_stream(spark, stream_input, out, available_now=True)
    q2.awaitTermination(120)
    assert spark.read.parquet(os.path.join(out, "sinks", "router")).count() == n_before


def test_stream_class_counts_match_batch(spark, stream_input, tmp_path):
    """The stream's class_counts_stream metric, summed per counter over
    batch_id, equals the batch counter aggregate.class_counts, `lines` and
    `logfmt_parse_error` included."""
    from pyspark.sql import functions as F

    from lumbermill_spark import aggregate

    out = str(tmp_path / "out")
    q = streaming.start_pipeline_stream(spark, stream_input, out, available_now=True)
    q.awaitTermination(300)

    log = spark.read.parquet(os.path.join(out, "metrics", "class_counts_stream"))
    got = {
        r["counter"]: r["n"]
        for r in log.groupBy("counter").agg(F.sum("n").alias("n")).collect()
    }
    parsed = parse.with_parsed(classify.classify(spark.read.parquet(stream_input)))
    want = {r["counter"]: r["n"] for r in aggregate.class_counts(parsed, parsed).collect()}
    assert got == want and {"lines", "logfmt_parse_error"} <= set(got)


def test_conv_running_stats_stateful(spark, stream_input, tmp_path):
    """applyInPandasWithState keyed state must accumulate ACROSS micro-batches
    (maxFilesPerTrigger=1 forces 3 batches over the 3-file input) and the
    final state must equal the batch ground truth."""
    from pyspark.sql import functions as F

    q = (
        streaming.conv_running_stats_stream(spark, stream_input, max_files_per_trigger=1)
        .writeStream.format("memory")
        .queryName("conv_stats")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    updates = spark.sql("SELECT * FROM conv_stats")
    # multiple batches actually happened → some conv got >1 update row
    assert updates.count() > updates.select("conv_id").distinct().count()
    # last update per conv (largest n_turns) == batch aggregation
    final = {
        r["conv_id"]: (r["n_turns"], r["max_turn_idx"], r["last_ts"])
        for r in updates.withColumn(
            "rk",
            F.row_number().over(
                __import__("pyspark.sql.window", fromlist=["Window"]).Window.partitionBy(
                    "conv_id"
                ).orderBy(F.col("n_turns").desc())
            ),
        )
        .filter("rk = 1")
        .collect()
    }
    want = {
        r["conv_id"]: (r["n"], r["mi"], r["lt"])
        for r in spark.read.parquet(stream_input)
        .groupBy("conv_id")
        .agg(
            F.count("*").alias("n"),
            F.max("turn_idx").alias("mi"),
            F.max("ts").alias("lt"),
        )
        .collect()
    }
    assert final == want


def test_sink_freshness_stream_matches_batch(spark, stream_input, tmp_path):
    """The incrementally-maintained freshness state (max time per token per
    dyno series) drained via availableNow must equal the batch stale-tokens
    truth (lm_stale_tokens), including the derived 24-min staleness flags."""
    from lumbermill_spark import aggregate

    q = (
        streaming.sink_freshness_stream(spark, stream_input)
        .writeStream.format("memory")
        .queryName("freshness")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt_fresh"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r["token"], r["series"]): r["latest_time"]
        for r in spark.sql("SELECT * FROM freshness").collect()
    }

    parsed = parse.with_parsed(classify.classify(spark.read.parquet(stream_input)))
    want_rows = aggregate.stale_tokens(
        parse.sink_dyno_load(parsed), parse.sink_dyno_mem(parsed)
    ).collect()
    want = {(r["token"], r["series"]): r["latest_time"] for r in want_rows}
    assert got == want and len(got) > 0
    # staleness flags agree when derived with the same as_of (dataset max)
    as_of = max(got.values())
    stale_want = {(r["token"], r["series"]): r["stale"] for r in want_rows}
    for k, lt in got.items():
        assert ((as_of - lt) > aggregate.STALE_TIMEOUT_MICROS) == stale_want[k], k


def test_windowed_rollup_stream_matches_batch(spark, stream_input, tmp_path):
    """The streaming event-time windowed rollup (with watermark) drained via
    availableNow must equal the same windowed aggregation computed in batch
    (complete mode ⇒ final state; no late data in a drained replay)."""
    from pyspark.sql import functions as F
    from lumbermill_spark import classify, schemas as S

    q = (
        streaming.windowed_rollup_stream(spark, stream_input)
        .writeStream.format("memory")
        .queryName("win_rollup")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt_win"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r["window"]["start"], r["window"]["end"]): (r["n_requests"], r["p50_service"])
        for r in spark.sql("SELECT * FROM win_rollup").collect()
    }

    parsed = parse.with_parsed(classify.classify(spark.read.parquet(stream_input)))
    router = parsed.filter(parse.sink_keep(S.SINK_ROUTER))
    want = {
        (r["window"]["start"], r["window"]["end"]): (r["n_requests"], r["p50_service"])
        for r in router.groupBy(F.window("ts", "1 minute"))
        .agg(
            F.count("*").alias("n_requests"),
            F.percentile_approx("p.service", 0.5).alias("p50_service"),
        )
        .collect()
    }
    assert got == want and len(got) > 0
    # the stream counts exactly the router sink's rows
    assert sum(n for n, _ in got.values()) == parse.sink_router(parsed).count()


def test_freshness_file_stream_update_mode(spark, stream_input, tmp_path):
    """PRODUCTION freshness twin: update-mode deltas appended to a parquet
    log (maxFilesPerTrigger=1 forces 3 micro-batches), folded by
    freshness_view — must equal batch truth, and the delta log must actually
    be incremental (later batches re-emit only changed groups)."""
    from lumbermill_spark import aggregate

    out = str(tmp_path / "fresh_out")
    q = streaming.start_freshness_stream(
        spark, stream_input, out, available_now=True, max_files_per_trigger=1
    )
    q.awaitTermination(300)

    got = {
        (r["token"], r["series"]): r["latest_time"]
        for r in streaming.freshness_view(spark, out).collect()
    }
    parsed = parse.with_parsed(classify.classify(spark.read.parquet(stream_input)))
    want = {
        (r["token"], r["series"]): r["latest_time"]
        for r in aggregate.stale_tokens(
            parse.sink_dyno_load(parsed), parse.sink_dyno_mem(parsed)
        ).collect()
    }
    assert got == want and len(got) > 0

    log = spark.read.parquet(os.path.join(out, "metrics", "freshness_log"))
    n_batches = log.select("batch_id").distinct().count()
    assert n_batches >= 2  # multiple micro-batches really happened
    # update mode = deltas, not complete state: the log holds fewer rows
    # than n_batches x n_groups (a complete-mode log would hold exactly that)
    assert log.count() < n_batches * len(got)

    # restart from checkpoint with no new data -> no new log rows
    n_log = log.count()
    q2 = streaming.start_freshness_stream(
        spark, stream_input, out, available_now=True, max_files_per_trigger=1
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(os.path.join(out, "metrics", "freshness_log")).count() == n_log


@pytest.fixture(scope="module")
def ordered_stream_input(spark, tmp_path_factory):
    """Event-time-ORDERED arrival: each source file covers a contiguous
    ~100 s slice, written oldest-first. Append-mode streaming tests need
    this (a real stream arrives roughly in order; the randomly-repartitioned
    fixture does NOT — its out-of-order files put older rows behind the
    watermark, which append mode correctly drops as late)."""
    from pyspark.sql import functions as F

    src = str(tmp_path_factory.mktemp("ordered_in"))
    base = spark.read.parquet(ensure_transcripts(0.001)).limit(6000)
    t0 = base.agg(F.min("ts")).collect()[0][0]
    for i in range(3):
        lo = F.lit(t0) + F.expr(f"INTERVAL {i * 100} SECONDS")
        hi = F.lit(t0) + F.expr(f"INTERVAL {(i + 1) * 100} SECONDS")
        part = base.filter((F.col("ts") >= lo) & ((F.col("ts") < hi) | F.lit(i == 2)))
        part.coalesce(1).write.mode("append").parquet(src)
    return src


def test_windowed_rollup_file_stream_append_mode(spark, ordered_stream_input, tmp_path):
    """PRODUCTION windowed-rollup twin: append-mode parquet file sink emits
    each window exactly once when the watermark finalizes it. Every emitted
    window must equal the batch truth for that window; tail windows that the
    watermark never passed stay unemitted (that is the append contract)."""
    from pyspark.sql import functions as F
    from lumbermill_spark import schemas as S

    src = ordered_stream_input
    out = str(tmp_path / "roll_out")
    # the fixture spans ~5 min of event time; a 2-min watermark leaves room
    # for several windows to finalize during the drain
    q = streaming.start_windowed_rollup_stream(
        spark, src, out, watermark="2 minutes", available_now=True
    )
    q.awaitTermination(300)
    stream_input = src

    got = {
        (r["window_start"], r["window_end"]): (r["n_requests"], r["p50_service"])
        for r in spark.read.parquet(
            os.path.join(out, "metrics", "router_rollup_windowed")
        ).collect()
    }
    parsed = parse.with_parsed(classify.classify(spark.read.parquet(stream_input)))
    router = parsed.filter(parse.sink_keep(S.SINK_ROUTER))
    want = {
        (r["window"]["start"], r["window"]["end"]): (r["n_requests"], r["p50_service"])
        for r in router.groupBy(F.window("ts", "1 minute"))
        .agg(
            F.count("*").alias("n_requests"),
            F.percentile_approx("p.service", 0.5).alias("p50_service"),
        )
        .collect()
    }
    assert len(got) > 0
    for k, v in got.items():
        assert want.get(k) == v, f"window {k}: stream {v} != batch {want.get(k)}"
    # finalized-only: emitted windows are a strict prefix of event time
    assert len(got) <= len(want)


def test_delivery_log_stream_matches_batch(spark, ordered_stream_input, tmp_path):
    """Streaming delivery log (poster deliver.sizes twin): every finalized
    (sink, token, 1s-window) row emitted by the append-mode file sink must
    equal the batch delivery_log row for that key, and a drain over ordered
    arrivals must finalize a non-trivial prefix."""
    from lumbermill_spark import aggregate

    src = ordered_stream_input
    out = str(tmp_path / "dlog_out")
    q = streaming.start_delivery_log_stream(
        spark, src, out, watermark="2 minutes", available_now=True
    )
    q.awaitTermination(300)

    got = {
        (r["sink"], r["token"], r["window_start_us"]): r["sz"]
        for r in spark.read.parquet(os.path.join(out, "metrics", "delivery_log")).collect()
    }
    parsed = parse.with_parsed(classify.classify(spark.read.parquet(src)))
    want = {
        (r["sink"], r["token"], r["window_start_us"]): r["sz"]
        for r in aggregate.delivery_log(parsed).collect()
    }
    assert len(got) > 100
    for k, v in got.items():
        assert want.get(k) == v, f"delivery {k}: stream {v} != batch {want.get(k)}"
    # append mode emits only watermark-finalized windows — a prefix of batch
    assert len(got) <= len(want)


def test_dedup_ingest_stream_matches_batch(spark, tmp_path):
    """Streaming ingest dedup (per-micro-batch min-doc_id rule + parquet
    seen-log) must accept exactly the batch incremental_dedup keepers when
    files arrive in doc_id order — and a checkpointed restart with no new
    files accepts nothing more."""
    from pyspark.sql import functions as F

    from lumbermill_spark.extras import dedup, streamcorpus, textstats

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    aug = dedup.augmented_docs(docs).withColumn("source", F.lit("s"))
    batch = aug.filter(F.col("doc_id") % dedup.INC_INDEX_MOD != 0)
    index = aug.filter(F.col("doc_id") % dedup.INC_INDEX_MOD == 0).select(
        textstats.fingerprint(F.col("text")).alias("fingerprint")
    )

    src = str(tmp_path / "ingest_src")
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    rows = sorted(batch.select(*cols).collect(), key=lambda r: r["doc_id"])
    third = (len(rows) + 2) // 3
    for i in range(3):  # 3 doc_id-contiguous files = arrival order
        chunk = rows[i * third : (i + 1) * third]
        spark.createDataFrame(chunk, streamcorpus.DOCS_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    out = str(tmp_path / "ingest_out")
    q = streamcorpus.start_dedup_ingest_stream(
        spark, src, index, out, available_now=True, max_files_per_trigger=1
    )
    q.awaitTermination(300)

    got = {r["doc_id"] for r in spark.read.parquet(f"{out}/accepted").collect()}
    want = {
        r["doc_id"]
        for r in dedup.incremental_dedup(batch, index).filter("keep").collect()
    }
    assert got == want and got

    # restart: no new files -> no new acceptances
    n = spark.read.parquet(f"{out}/accepted").count()
    q2 = streamcorpus.start_dedup_ingest_stream(
        spark, src, index, out, available_now=True, max_files_per_trigger=1
    )
    q2.awaitTermination(300)
    assert spark.read.parquet(f"{out}/accepted").count() == n


def _two_doc_ingest(spark, tmp_path):
    """(src, index, out) for a one-file, two-document ingest stream whose
    documents are both new."""
    from pyspark.sql import functions as F

    from lumbermill_spark.extras import streamcorpus, textstats

    src = str(tmp_path / "ingest_src")
    spark.createDataFrame(
        [(1, "a doc", "en", "s", 5), (2, "b doc", "en", "s", 5)], streamcorpus.DOCS_SCHEMA
    ).coalesce(1).write.parquet(src)
    index = spark.createDataFrame([("x",)], "text string").select(
        textstats.fingerprint(F.col("text")).alias("fingerprint")
    )
    return src, index, str(tmp_path / "ingest_out")


def test_dedup_ingest_stream_raises_on_corrupt_seen_log(spark, tmp_path):
    """A seen log that exists but cannot be read fails the stream instead of
    being skipped: skipping it would re-accept every duplicate it holds."""
    from lumbermill_spark.extras import streamcorpus

    src, index, out = _two_doc_ingest(spark, tmp_path)
    bad = os.path.join(out, "seen_log", "batch_id=0")
    os.makedirs(bad)
    with open(os.path.join(bad, "part-00000.parquet"), "wb") as f:
        f.write(b"not a parquet file")

    q = streamcorpus.start_dedup_ingest_stream(spark, src, index, out, available_now=True)
    with pytest.raises(Exception):
        q.awaitTermination(300)
    assert not os.path.isdir(os.path.join(out, "accepted"))


def test_dedup_ingest_stream_reads_staging_only_seen_log(spark, tmp_path):
    """A seen log holding only a crashed first write's hidden staging files
    reads as empty: the stream accepts the batch instead of failing on every
    restart."""
    from lumbermill_spark.extras import streamcorpus

    src, index, out = _two_doc_ingest(spark, tmp_path)
    os.makedirs(os.path.join(out, "seen_log", ".spark-staging-0"))

    q = streamcorpus.start_dedup_ingest_stream(spark, src, index, out, available_now=True)
    q.awaitTermination(300)
    assert {r["doc_id"] for r in spark.read.parquet(f"{out}/accepted").collect()} == {1, 2}


def test_cms_stream_matches_batch(spark, stream_input, tmp_path):
    """Sketch mergeability end-to-end: the cell-wise sum of per-micro-batch
    CMS partials equals the batch-built sketch exactly (forced multi-batch
    via maxFilesPerTrigger=1)."""
    from lumbermill_spark.extras import sketch

    out = str(tmp_path / "cms_out")
    q = streaming.start_cms_stream(
        spark, stream_input, out, available_now=True, max_files_per_trigger=1
    )
    q.awaitTermination(300)

    got = {
        (r["row"], r["bucket"]): r["cnt"]
        for r in streaming.cms_view(spark, out).collect()
    }
    want = {
        (r["row"], r["bucket"]): r["cnt"]
        for r in sketch.cms_build(spark.read.parquet(stream_input), text_col="text").collect()
    }
    assert got == want and len(got) > 0
    # multi-batch actually happened (3 input files -> 3 partials)
    import glob

    assert len(glob.glob(f"{out}/cms_cells/batch_id=*")) >= 2


def test_bloom_stream_matches_batch(spark, stream_input, tmp_path):
    """Bloom mergeability end-to-end: the distinct union of per-micro-batch
    set bits equals the batch-built filter exactly."""
    from lumbermill_spark.extras import sketch, textstats
    from pyspark.sql import functions as FF

    out = str(tmp_path / "bloom_out")
    q = streaming.start_bloom_stream(
        spark, stream_input, out, available_now=True, max_files_per_trigger=1
    )
    q.awaitTermination(300)

    got = {r["pos"] for r in streaming.bloom_view(spark, out).collect()}
    fps = (
        spark.read.parquet(stream_input)
        .filter(FF.col("conv_id").isNotNull())
        .select(textstats.fingerprint(FF.col("text")).alias("fingerprint"))
    )
    want = {r["pos"] for r in sketch.bloom_build(fps).collect()}
    assert got == want and len(got) > 0


def test_hll_stream_matches_batch(spark, stream_input, tmp_path):
    """HLL mergeability end-to-end: per-register max across micro-batch
    partials equals the batch-built registers exactly."""
    from pyspark.sql import functions as FF

    from lumbermill_spark.extras import sketch

    out = str(tmp_path / "hll_out")
    q = streaming.start_hll_stream(
        spark, stream_input, out, available_now=True, max_files_per_trigger=1
    )
    q.awaitTermination(300)

    got = {(r["bucket"], r["reg"]) for r in streaming.hll_view(spark, out).collect()}

    toks = sketch._tokens(spark.read.parquet(stream_input), "text")
    h = FF.conv(FF.substring(FF.md5("token"), 1, 8), 16, 10).cast("bigint")
    d = toks.select(
        (h % sketch.HLL_REGISTERS).cast("int").alias("bucket"),
        FF.shiftright(h, sketch.HLL_P).alias("rest"),
    )
    rank = FF.when(FF.col("rest") == 0, FF.lit(32 - sketch.HLL_P + 1)).otherwise(
        32 - sketch.HLL_P - FF.floor(FF.log2("rest"))
    )
    want = {
        (r["bucket"], r["reg"])
        for r in d.groupBy("bucket").agg(FF.max(rank).cast("int").alias("reg")).collect()
    }
    assert got == want and len(got) > 0
    batch = sketch.hll_registers(spark.read.parquet(stream_input), "text")
    assert {(r["bucket"], r["reg"]) for r in batch.collect()} == want
