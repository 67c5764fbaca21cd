"""Routing: the Spark-native replacement for lumbermill's consistent-hash ring.

The reference routes each point by token over an FNV-1a ring with 46 virtual
replicas per destination host (consistenthash.go:40-92, main.go:28) into
bounded channels that DROP on overflow (destination.go:38-44). In Spark the
equivalents are:

  * deterministic token→bucket assignment for storage layout:
    ``bucket_expr`` — md5-based (engine-portable: identical in Spark and
    DuckDB, so the routing determinism contract is oracle-checkable);
  * shuffle placement: ``salted_repartition`` — hot conversations (~1% of
    conv_ids own ~50% of turns) are split across S salt lanes so no single
    task inherits a mega-key (north_rule skew requirement). Salting is safe
    here because no downstream op needs all rows of a token in one partition
    (the per-sink aggregates re-shuffle on their own group keys);
  * losslessness: Spark spills instead of dropping — strictly stronger than
    the reference's drop-on-overflow (documented divergence, SURVEY §7.4.5).

``HashRing`` reimplements the reference ring exactly (FNV-1a 32-bit, replica
keys ``str(i)+name``, binary search with wraparound) for the deterministic
routing parity tests (consistenthash_test.go analog) and the /target/<id>
debug lookup. It is NOT on the data path — Spark's hash partitioning is.
"""

from __future__ import annotations

import bisect

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

FNV32_OFFSET = 2166136261
FNV32_PRIME = 16777619


def fnv1a_32(data: bytes) -> int:
    h = FNV32_OFFSET
    for b in data:
        h = ((h ^ b) * FNV32_PRIME) & 0xFFFFFFFF
    return h


class HashRing:
    """Faithful reimplementation of consistenthash.go:33-92 semantics."""

    def __init__(self, replicas: int = 46, hash_fn=None):
        self.replicas = replicas
        self.hash = hash_fn or (lambda b: fnv1a_32(b))
        self.keys: list[int] = []
        self.map: dict[int, str] = {}

    def is_empty(self) -> bool:
        return not self.keys

    def add(self, *names: str) -> None:
        for name in names:
            for i in range(self.replicas):
                h = self.hash((str(i) + name).encode("utf-8"))
                self.keys.append(h)
                self.map[h] = name
            self.keys.sort()

    def get(self, key: str) -> str | None:
        if self.is_empty():
            return None
        h = self.hash(key.encode("utf-8"))
        idx = bisect.bisect_left(self.keys, h)
        if idx == len(self.keys):
            idx = 0
        return self.map[self.keys[idx]]


# ---------------------------------------------------------------------------
# Spark-side routing expressions
# ---------------------------------------------------------------------------


def bucket_expr(token: Column, n_buckets: int) -> Column:
    """Deterministic, engine-portable token→bucket: first 15 hex chars of
    md5(token) mod n. (Replaces the table-per-token naming of points.go:42-44
    with a bucket column; 15 hex chars < 2^60 so the bigint is non-negative.)
    """
    return F.pmod(F.conv(F.substring(F.md5(token), 1, 15), 16, 10).cast("bigint"), F.lit(n_buckets)).cast("int")


def bucket_sql(token_sql: str, n_buckets: int) -> str:
    """The identical bucket computation as DuckDB SQL (oracle side)."""
    return "CAST((('0x' || substr(md5(%s), 1, 15))::BIGINT %% %d) AS INT)" % (token_sql, n_buckets)


def salt_expr(turn_idx: Column, n_salts: int) -> Column:
    """Hot-key salt lane: pmod(hash(turn_idx), S) (north_star expression)."""
    return F.pmod(F.hash(turn_idx), F.lit(n_salts))


def salted_repartition(
    df: DataFrame, n_partitions: int, n_salts: int = 8, salt: Column | None = None
) -> DataFrame:
    """Repartition on (token, salt): same token spreads over ≤ n_salts tasks,
    so one hot conversation can no longer saturate a single lane (the failure
    mode the reference answers with drop-on-overflow, destination.go:38-44).

    ``salt`` lets the caller pass a pre-computed salt column when the source
    of entropy (turn_idx) has already been pruned from the frame.
    """
    if salt is None:
        salt = salt_expr(F.col("turn_idx"), n_salts)
    return df.repartition(n_partitions, F.col("token"), salt)
