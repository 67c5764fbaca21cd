"""Self-tests of the benchmark (no Spark session is started).

    python -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import duckdb
import pyarrow.parquet as pq
import pytest

from perfbench import inputs as I
from perfbench import run
from perfbench.measure import tail_percentile
from perfbench.workloads import WORKLOADS, Outcome

HERE = os.path.dirname(os.path.abspath(__file__))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _bench_json() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_benchmark_json_matches_what_the_benchmark_prints():
    spec = _bench_json()
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    names = [w["name"] for w in spec["workloads"]] + list(run.END_TO_END) + list(run.PER_LAYER)
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names), [n for n in names if not NAME.match(n)]
    assert all(re.match(r"^[A-Za-z0-9_/%.-]{1,16}$", u) for u in [*run.END_TO_END.values(), *run.PER_LAYER.values()])
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"][0]
    assert setup["better"] == "lower" and setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_tail_percentile_leaves_ten_samples_beyond():
    values = [float(v) for v in range(40)]
    pct, value = tail_percentile(values)
    assert pct == 75.0 and sum(v > value for v in values) == 10
    pct, value = tail_percentile(values[:11])
    assert sum(v > value for v in values[:11]) == 10 and pct == pytest.approx(100 / 11)
    assert tail_percentile(values[:10]) is None


def _write(tmp_path, tag: str, seed: int) -> I.Inputs:
    return I.write_inputs(2000, seed, str(tmp_path / tag), parts=3, stream_files=4, stream_file_turns=100)


def test_same_seed_same_inputs_other_seed_other_inputs(tmp_path):
    a, b, c = _write(tmp_path, "a", 7), _write(tmp_path, "b", 7), _write(tmp_path, "c", 8)

    def blobs(inp: I.Inputs) -> list[bytes]:
        out = []
        for f in inp.batch_files + inp.stream_files:
            with open(f, "rb") as fh:
                out.append(fh.read())
        return out

    assert blobs(a) == blobs(b)
    assert len(a.batch_files) == 3 and len(a.stream_files) == 4 and a.stream_turns == 400
    ta = pq.read_table(a.batch_dir)
    assert ta.num_rows == a.turns
    assert not ta.equals(pq.read_table(c.batch_dir))


def test_injected_oracle_mismatch_counts_as_failure(tmp_path):
    inp = _write(tmp_path, "a", 3)
    exp = I.drain_expected(duckdb.connect(), os.path.join(inp.batch_dir, "*.parquet"))
    assert sum(exp.sink_rows.values()) > 0 and exp.class_counts["lines"] == inp.turns
    outcome = Outcome()
    assert outcome.check(exp.matches(dict(exp.sink_rows), dict(exp.class_counts)), "exact")
    wrong = dict(exp.sink_rows)
    wrong["router"] += 1
    assert not outcome.check(exp.matches(wrong, exp.class_counts), "one router row too many")
    assert (outcome.attempted, outcome.failed, outcome.reasons) == (2, 1, ["one router row too many"])


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "drain_noop", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert p.returncode != 0 and p.stdout == ""
