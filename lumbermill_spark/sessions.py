"""Gap-based sessionization over conversation turns.

A standard log-pipeline operator the reference never needed (logplex frames
are stateless) but any transcript-analytics user expects: split each
conversation's turn stream into sessions wherever the inter-turn gap exceeds
a threshold, then aggregate per session.

Plan shape: one window pass (lag + running sum over (conv_id, turn_idx)) and
one groupBy — both hash-partitioned on conv_id, so the 10^12-row table
shuffles once and sessions never span partitions. No UDFs, no state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

SESSION_GAP_SECONDS = 300


def sessionize(transcripts: DataFrame, gap_seconds: int = SESSION_GAP_SECONDS) -> DataFrame:
    """Per session: conv_id, session_idx (0-based, in turn order), n_turns,
    start/end turn_idx and timestamps. A session breaks when the time since
    the previous turn exceeds gap_seconds (NULL ts never breaks — matches
    'unparseable time inherits the running session')."""
    us = F.unix_micros(F.col("ts"))  # µs-exact gap math, engine-portable
    t = transcripts.select("conv_id", "turn_idx", us.alias("ts_us"))
    # (conv_id, turn_idx) is NOT unique in the input (retries produce
    # duplicate turn indices); (turn_idx, ts_us) is — order on both so the
    # lag/running-sum is deterministic, and pin a ROWS frame: Spark's default
    # frame for an ordered window is RANGE, which sums over ORDER-BY peers
    # and silently diverges from any other engine on ties.
    w = Window.partitionBy("conv_id").orderBy("turn_idx", "ts_us")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gap = F.col("ts_us") - F.lag("ts_us").over(w)
    breaks = F.when(gap > gap_seconds * 1_000_000, 1).otherwise(0)
    turns = t.select(
        "conv_id",
        "turn_idx",
        "ts_us",
        F.sum(breaks).over(wf).cast("long").alias("session_idx"),
    )
    return turns.groupBy("conv_id", "session_idx").agg(
        F.count("*").alias("n_turns"),
        F.min("turn_idx").alias("first_turn"),
        F.max("turn_idx").alias("last_turn"),
        F.min("ts_us").alias("start_us"),
        F.max("ts_us").alias("end_us"),
    )

