"""The extras' plan policy, one rule each: when to spread a frame across
the cluster (``widen``, with its ``post_shuffle`` plan test) and how to
materialize one (``pin``). Every operator under ``extras/`` calls these
through the module attribute (``_plan.pin(...)``), so a change of policy —
or a test that swaps a rule out — reaches every caller at once."""

from __future__ import annotations

from pyspark.sql import DataFrame

# logical-plan nodes that imply the frame already crossed (or is) a shuffle /
# materialization boundary and is therefore already spread across the cluster
_BOUNDARY_NODES = {
    "Aggregate",
    "Join",
    "Window",
    "Repartition",
    "RepartitionByExpression",
    "RebalancePartitions",
    "Sort",
    "GlobalLimit",
    "LogicalRDD",
}


def post_shuffle(df: DataFrame) -> bool:
    """True when the analyzed plan contains an aggregate/join/window/
    repartition/checkpoint — the frame's partitioning was already decided by
    an exchange (e.g. rendered conversations out of render_conversations'
    groupBy), so widening it again would only add a useless shuffle. Walks
    the private JVM plan, so it raises where there is none; widen calls it
    inside its try."""
    stack = [df._jdf.queryExecution().analyzed()]
    while stack:
        node = stack.pop()
        if node.nodeName() in _BOUNDARY_NODES:
            return True
        ch = node.children()
        for i in range(ch.size()):
            stack.append(ch.apply(i))
    return False


def widen(df: DataFrame, key: str = "doc_id") -> DataFrame:
    """Spread a narrow corpus scan across the cluster before per-row-heavy
    text work — the one widen rule of the extras (textstats, dedup, sketch,
    similarity). The corpus tables here are small single-row-group parquet
    files, and a row group is parquet's split unit — the scan yields 1-2
    partitions no matter what spark.sql.files.maxPartitionBytes says, so
    every regex/array projection was bottlenecked on 1-2 of local[32]'s
    cores (measured: pmi 3.4 s → 0.8 s at sf0.1 from this alone). The
    decision reads scan metadata (``inputFiles``) and the analyzed plan,
    never an RDD getNumPartitions round-trip. A 100 TB input has more files
    than cores and passes through untouched; a frame that already crossed a
    shuffle boundary (conv render output, checkpoints) is returned
    unchanged, so composed chains never pay a second exchange; so is a
    frame whose files or plan cannot be read (no listable source, no JVM
    plan)."""
    if key not in df.columns:
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        if len(df.inputFiles()) >= target or post_shuffle(df):
            return df
    except Exception:
        return df
    return df.repartition(target, key)


def pin(df: DataFrame, *release: DataFrame) -> DataFrame:
    """Materialize `df` with an eager localCheckpoint (one job), then
    unpersist the `release` frames — the persisted intermediates it was
    computed from. The checkpoint truncates the lineage, so the pinned frame
    no longer reads those caches; without the release every call leaked its
    persisted frames for the life of the session. A pinned frame has no
    cache-manager entry: its blocks are freed by the ContextCleaner once
    nothing references the frame, so it is freed by dropping it —
    ``unpersist`` on it frees nothing."""
    out = df.localCheckpoint(eager=True)
    for c in release:
        c.unpersist()
    return out
