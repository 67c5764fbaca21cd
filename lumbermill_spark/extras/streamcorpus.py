"""Streaming twin of the training-data ingest path: a continuously-arriving
document stream deduped exactly-once against (a) the static prior-corpus
fingerprint index and (b) everything already accepted from the stream
itself — the "day 2" crawl-ingest loop (extras/dedup.incremental_dedup is
its batch form; this maintains the same contract incrementally instead of
re-running the batch join per crawl drop).

State lives in a plain parquet upsert log (seen_log/, partitioned by
batch_id, dynamic-overwrite so a micro-batch retry is idempotent) — the
same log+view shape as streaming.start_freshness_stream, chosen over
dropDuplicates for two reasons a 100 TB pipeline cares about: the
acceptance rule stays DETERMINISTIC (min doc_id per fingerprint within a
batch, not first-task-to-finish), and the state is inspectable/compactable
parquet instead of an opaque state store (a table format would replace the
log with MERGE). Arrival order must be doc_id-contiguous for cross-batch
equality with the batch twin (same convention as the windowed-rollup
streaming test)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import fsio, streaming
from . import _plan, textstats

DOCS_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def start_dedup_ingest_stream(
    spark: SparkSession,
    input_dir: str,
    index_df: DataFrame,
    out_dir: str,
    checkpoint_dir: str | None = None,
    available_now: bool = False,
    trigger_seconds: int = 1,
    max_files_per_trigger: int = 2,
):
    """Accepted docs land in out_dir/accepted (doc_id, fingerprint, lang,
    batch_id); out_dir/seen_log carries one row per accepted fingerprint.
    index_df: prior-corpus fingerprints (column `fingerprint`)."""
    seen_dir = os.path.join(out_dir, "seen_log")
    acc_dir = os.path.join(out_dir, "accepted")
    index_fp = index_df.select("fingerprint").distinct()

    stream = (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )

    def write_batch(df: DataFrame, batch_id: int) -> None:
        fp = df.withColumn("fingerprint", textstats.fingerprint(F.col("text")))
        w = Window.partitionBy("fingerprint").orderBy("doc_id")
        batch_first = fp.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1)
        new = batch_first.join(index_fp, "fingerprint", "left_anti")
        if fsio.exists(spark, seen_dir):  # absent before the first batch
            seen = spark.read.schema("fingerprint string").parquet(seen_dir)
            new = new.join(seen, "fingerprint", "left_anti")
        # pin before the two writes below
        out = _plan.pin(new.select("doc_id", "fingerprint", "lang"))
        streaming._write_batch(out.select("fingerprint"), batch_id, seen_dir)
        streaming._write_batch(out, batch_id, acc_dir)

    writer = stream.writeStream.foreachBatch(write_batch)
    return streaming._start(
        writer, out_dir, "_ckpt_dedup_ingest", checkpoint_dir, available_now, trigger_seconds
    )
