"""Seeded benchmark inputs and their DuckDB oracle expectations.

Every input is one ``datagen.generate_transcripts(sf, seed)`` table or a slice
of it, so the same seed always gives byte-identical files and a different seed
gives different ones. The oracle values are computed here, before any timed
region.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass

import duckdb
import pyarrow.parquet as pq

from lumbermill_spark import datagen, oracle_extras, oracle_sql
from lumbermill_spark import schemas as S


@dataclass
class Inputs:
    batch_dir: str  # directory of the batch part files
    batch_files: list[str]
    stream_files: list[str]  # staged, not yet inside any watched directory
    turns: int
    stream_turns: int


@dataclass
class Expected:
    """Drain oracle values for one set of files."""

    sink_rows: dict[str, int]
    class_counts: dict[str, int]

    def matches(self, sink_rows: dict[str, int], class_counts: dict[str, int]) -> bool:
        return sink_rows == self.sink_rows and class_counts == self.class_counts


def write_inputs(
    turns: int, seed: int, root: str, parts: int, stream_files: int, stream_file_turns: int
) -> Inputs:
    """Write the batch input as ``parts`` part files and the staged stream
    files under ``root``. The stream files repeat the table's first
    ``stream_files * stream_file_turns`` rows."""
    table = datagen.generate_transcripts(turns / datagen.TURNS_PER_SF, seed=seed)
    need = stream_files * stream_file_turns
    if need > table.num_rows:
        raise ValueError(f"stream needs {need} turns but the table has {table.num_rows}")
    batch_dir = os.path.join(root, "batch")
    stage_dir = os.path.join(root, "stage")
    os.makedirs(batch_dir)
    os.makedirs(stage_dir)
    n = table.num_rows
    batch_files = []
    for i in range(parts):
        lo, hi = i * n // parts, (i + 1) * n // parts
        path = os.path.join(batch_dir, "part-%05d.parquet" % i)
        pq.write_table(table.slice(lo, hi - lo), path, row_group_size=datagen.ROW_GROUP_ROWS)
        batch_files.append(path)
    staged = []
    for i in range(stream_files):
        path = os.path.join(stage_dir, "turns-%05d.parquet" % i)
        pq.write_table(table.slice(i * stream_file_turns, stream_file_turns), path)
        staged.append(path)
    return Inputs(batch_dir, batch_files, staged, n, need)


def drain_expected(con: duckdb.DuckDBPyConnection, path: str) -> Expected:
    """Sink row counts and class counters the drain must produce for the
    parquet files ``path`` names (a file, or a glob such as ``dir/*.parquet``)."""
    sink_rows = {
        s: con.execute("SELECT count(*) FROM (%s)" % getattr(oracle_sql, "sink_" + s)(path)).fetchone()[0]
        for s in S.ALL_SINKS
    }
    counts = dict(con.execute(oracle_sql.class_counts(path)).fetchall())
    # the pipeline only reports counters that occurred
    return Expected(sink_rows, {k: v for k, v in counts.items() if v})


def norm_pairs(rows) -> set[tuple]:
    """Pair rows (doc_a, doc_b, sim) as a set, sim to 9 decimals."""
    return {(a, b, None if s is None or math.isnan(s) else round(float(s), 9)) for a, b, s in rows}


def near_dup_expected(con: duckdb.DuckDBPyConnection, path: str) -> set[tuple]:
    return norm_pairs(con.execute(oracle_extras.conv_near_dup(path)).fetchall())


def sink_rows_on_disk(con: duckdb.DuckDBPyConnection, out_dir: str) -> dict[str, int]:
    """Rows under each ``<out_dir>/sinks/<sink>`` table (0 for a missing one)."""
    rows = {}
    for s in S.ALL_SINKS:
        d = os.path.join(out_dir, "sinks", s)
        files = [
            os.path.join(dp, f) for dp, _, fs in os.walk(d) for f in fs if f.endswith(".parquet")
        ]
        rows[s] = (
            con.execute("SELECT count(*) FROM read_parquet(?)", [files]).fetchone()[0] if files else 0
        )
    return rows


def tree_bytes_files(path: str) -> tuple[int, int]:
    """(bytes, parquet files) under ``path``."""
    size = n = 0
    for dp, _, fs in os.walk(path):
        for f in fs:
            size += os.path.getsize(os.path.join(dp, f))
            n += f.endswith(".parquet")
    return size, n
