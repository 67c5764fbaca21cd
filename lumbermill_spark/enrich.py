"""Enrichment: broadcast hash join against small lookup dimensions.

The reference's moral equivalent is the token/procid classification lookups
(drain.go:117-133); the north_star mandates an explicit broadcast hash join
against role/tool dims. ``load_dims`` checks each dim before Spark reads it:
at most DIM_MAX_ROWS rows, so the ``broadcast()`` hint never ships a large
table (the join must never shuffle the 10^12-row fact side), and a unique key,
so the join never multiplies fact rows and drops out of any plan that reads
none of its columns (the drain's sinks and counters read neither dim).
"""

from __future__ import annotations

import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from . import datagen

DIM_MAX_ROWS = 10_000  # both enrich joins broadcast the whole dim to every task


def load_dims(spark: SparkSession) -> dict[str, DataFrame]:
    """The tools and roles dims, checked by pyarrow on the driver (no Spark job).
    ``dropDuplicates`` removes no row; it lets Catalyst prove the key unique."""
    paths = datagen.ensure_dims()
    out = {}
    for name, key in (("tools", "tool"), ("roles", "role")):
        meta = pq.read_metadata(paths[name])
        if meta.num_rows > DIM_MAX_ROWS:
            raise ValueError(f"dim {name!r} has {meta.num_rows} rows, more than DIM_MAX_ROWS={DIM_MAX_ROWS}")
        if len(pc.unique(pq.read_table(paths[name], columns=[key]).column(key))) < meta.num_rows:
            raise ValueError(f"dim {name!r} repeats a value of its key {key!r}")
        # the footer's schema: an inferred one costs a Spark job per dim
        schema = from_arrow_schema(meta.schema.to_arrow_schema())
        out[name] = spark.read.schema(schema).parquet(paths[name]).dropDuplicates([key])
    return out


def enrich(df: DataFrame, dims: dict[str, DataFrame]) -> DataFrame:
    """Left-join tool and role dims, broadcast-hinted, null-safe defaults,
    keeping df's column order. Unmatched tools get tool_kind='unknown' (the
    reference counts unmatched classes rather than erroring, drain.go:243-273)."""
    tools, roles = dims["tools"], dims["roles"]
    out = df.join(F.broadcast(tools), df["tool"] == tools["tool"], "left").drop(tools["tool"])
    out = out.join(F.broadcast(roles), out["role"] == roles["role"], "left").drop(roles["role"])
    return out.withColumn("tool_kind", F.coalesce(F.col("tool_kind"), F.lit("unknown"))).withColumn(
        "role_class",
        F.coalesce(
            F.col("role_class"),
            F.when(F.col("role").startswith("t."), F.lit("token")).otherwise(F.lit("unknown")),
        ),
    )
