"""Enrichment: broadcast hash join against small lookup dimensions.

The reference's moral equivalent is the token/procid classification lookups
(drain.go:117-133); the north_star mandates an explicit broadcast hash join
against role/tool dims. Both dims are tiny (tens of rows) so we hint
``broadcast()`` — the join must never shuffle the 10^12-row fact side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from . import datagen


def load_dims(spark: SparkSession) -> dict[str, DataFrame]:
    # read with the declared schemas: an inferred one costs a Spark job per dim
    paths = datagen.ensure_dims()
    return {
        name: spark.read.schema(from_arrow_schema(table().schema)).parquet(paths[name])
        for name, table in (("tools", datagen.dim_tools_table), ("roles", datagen.dim_roles_table))
    }


def enrich(df: DataFrame, dims: dict[str, DataFrame]) -> DataFrame:
    """Left-join tool and role dims, broadcast-hinted, null-safe defaults.

    Unmatched tools get tool_kind='unknown' (the reference counts unmatched
    classes rather than erroring, drain.go:243-273).
    """
    out = df.join(F.broadcast(dims["tools"]), on="tool", how="left")
    out = out.join(F.broadcast(dims["roles"]), on="role", how="left")
    return out.withColumn("tool_kind", F.coalesce(F.col("tool_kind"), F.lit("unknown"))).withColumn(
        "role_class",
        F.coalesce(
            F.col("role_class"),
            F.when(F.col("role").startswith("t."), F.lit("token")).otherwise(F.lit("unknown")),
        ),
    )
