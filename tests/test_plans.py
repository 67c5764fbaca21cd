"""Physical-plan regression tests: the plan SHAPES that make this engine
scale must not silently regress (broadcast joins stay broadcast, exactly one
Python/Arrow exchange per sink, dimension scans pruned)."""

import pytest
from pyspark.sql import functions as F

from lumbermill_spark import classify, datagen, enrich, parse


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _analyzed(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_enrich_uses_broadcast_join(spark):
    """Reading tool_kind keeps exactly the tools join, broadcast; the unread
    roles join leaves the plan."""
    df = spark.read.parquet(datagen.ensure_transcripts(0.001))
    out = enrich.enrich(classify.classify(df), enrich.load_dims(spark))
    plan = _plan(out.groupBy("tool_kind").count())
    assert plan.count("BroadcastHashJoin") == 1
    assert "SortMergeJoin" not in plan
    assert "dim_roles" not in plan


def test_single_arrow_exchange_per_sink(spark):
    df = spark.read.parquet(datagen.ensure_transcripts(0.001))
    parsed = parse.with_parsed(classify.classify(df), "pandas")
    plan = _plan(parse.sink_router(parsed))
    assert plan.count("ArrowEvalPython") == 1, "parse must be ONE vectorized UDF pass"


@pytest.mark.parametrize("parser", ["native", "native_fast"])
def test_native_parser_has_no_python(spark, parser):
    df = spark.read.parquet(datagen.ensure_transcripts(0.001))
    parsed = parse.with_parsed(classify.classify(df), parser)
    plan = _plan(parse.sink_router(parsed))
    assert "Python" not in plan
    assert "*(" in plan  # whole-stage-codegen'd spans


def test_similarity_broadcasts_queries(spark):
    from lumbermill_spark.extras import similarity

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = _plan(similarity.topk_bruteforce(e))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_drain_plan_has_no_enrich_join(spark):
    """No sink reads a dim column, and load_dims hands Catalyst keys it can
    prove unique, so both enrich joins and both dim scans leave the plan."""
    df = spark.read.parquet(datagen.ensure_transcripts(0.001))
    out = enrich.enrich(classify.classify(df), enrich.load_dims(spark))
    plan = _plan(parse.sink_router(parse.with_parsed(out, "pandas")))
    assert "Join" not in plan
    assert "dim_tools" not in plan and "dim_roles" not in plan


def test_sessionize_single_exchange(spark):
    """The session groupBy must REUSE the window's conv_id hash partitioning
    (HashPartitioning(conv_id) satisfies clustering on (conv_id, session_idx))
    — exactly ONE shuffle for the whole operator."""
    from lumbermill_spark import sessions

    df = spark.read.parquet(datagen.ensure_transcripts(0.001))
    plan = _plan(sessions.sessionize(df))
    assert plan.count("Exchange hashpartitioning") == 1


def test_top_tokens_sorts_only_aggregated_counts(spark):
    """The global top-k window must run AFTER the per-token aggregation —
    a partial_count must appear below the single-partition exchange."""
    from lumbermill_spark import aggregate

    df = spark.read.parquet(datagen.ensure_transcripts(0.001))
    parsed = parse.with_parsed(classify.classify(df), "pandas")
    plan = _plan(aggregate.top_tokens(parse.sink_router(parsed)))
    # plans print top-down: the global rank Window must sit ABOVE the
    # partial/final count aggregation, i.e. it sorts per-token counts,
    # never raw rows
    assert plan.index("Window") < plan.index("partial_count")


def test_dedup_blocking_never_cross_joins(spark, lazy_pins):
    """Candidate generation in every dedup operator must be an equality join
    on a blocking key — no cartesian/nested-loop stage at any scale."""
    from lumbermill_spark.extras import dedup

    docs = dedup.augmented_docs(spark.read.parquet("/root/testdata/sf0.001/documents.parquet"))
    for op in (dedup.minhash_lsh_pairs, dedup.simhash_pairs, dedup.ngram_jaccard_pairs):
        # lazy_pins: inspect the LAZY candidate-generation plan — the eager
        # pins collapse it to a LogicalRDD, which would make this vacuous
        plan = _plan(op(docs))
        assert "CartesianProduct" not in plan, op.__name__
        assert "BroadcastNestedLoopJoin" not in plan, op.__name__
        spark.catalog.clearCache()


def test_pack_shards_never_global_window(spark):
    """The sequence-packing prefix sum must stay BUCKET-partitioned: no
    empty-partition-spec Window (a global ORDER BY window serializes the
    corpus through one task) and the offsets join stays broadcast."""
    from lumbermill_spark.extras import textstats

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(textstats.pack_shards(docs, bucket=64))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # every Window's partition spec carries the bucket column; a global
    # window would print 'Window [...], [doc_id ASC...]' with no partition
    # list and require Exchange SinglePartition below it
    assert "Exchange SinglePartition" not in plan


def test_decontaminate_broadcasts_benchmark(spark):
    """Candidate shingles must probe a BROADCAST benchmark set — the corpus
    side never shuffles on the shingle key, and nothing cross-joins."""
    from lumbermill_spark.extras import textstats

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(textstats.decontaminate(docs))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_canonical_selection_windows_on_cluster(spark):
    """The keep/drop selection must rank WITHIN cluster_id partitions (the
    CC labels' own key) — no single-partition global sort."""
    from lumbermill_spark.extras import dedup

    docs = dedup.augmented_docs(spark.read.parquet("/root/testdata/sf0.001/documents.parquet"))
    plan = _plan(dedup.canonical_selection(docs))
    assert "Exchange SinglePartition" not in plan
    assert "hashpartitioning(cluster_id" in plan
    spark.catalog.clearCache()


def test_repetition_and_redaction_are_pure_projections(spark):
    """The repetition signals and PII redaction are per-row projections: the
    ONLY exchange allowed is the conditional input-widening repartition on
    doc_id (_plan.widen — fires only on few-file scans, a no-op at real
    file counts); any other shuffle here would be a scale bug. No Python
    evaluation (all higher-order/regexp expressions stay JVM-side)."""
    from lumbermill_spark.extras import textstats

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for df in (
        textstats.with_repetition(docs),
        textstats.redact_pii(textstats.augment_pii(docs)),
    ):
        plan = _plan(df)
        assert plan.count("Exchange") == plan.count("Exchange hashpartitioning(doc_id")
        assert plan.count("Exchange") <= 1
        # repetition's counting core is ONE vectorized Arrow kernel (exact
        # integer counts; float math stays in Catalyst) — still a pure
        # per-row map, no shuffle; nothing else may cross to Python, and
        # redaction stays entirely JVM-side
        assert plan.count("ArrowEvalPython") <= 1
        assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in _plan(
        textstats.redact_pii(textstats.augment_pii(docs))
    )


def test_mixture_and_incremental_plan_shapes(spark):
    """mixture_sample touches the corpus with ONE filter pass: the stratum
    fraction table must come back as broadcast joins (no SortMergeJoin, no
    cartesian). incremental_dedup must window/join on a fingerprint hash
    partitioning and never go cartesian."""
    from pyspark.sql import functions as F

    from lumbermill_spark.extras import dedup, textstats

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    mix = textstats.mixture_sample(docs)
    p1 = _plan(mix)
    assert "CartesianProduct" not in p1
    assert "SortMergeJoin" not in p1

    aug = dedup.augmented_docs(docs)
    batch = aug.filter(F.col("doc_id") % dedup.INC_INDEX_MOD != 0)
    index = aug.filter(F.col("doc_id") % dedup.INC_INDEX_MOD == 0).select(
        textstats.fingerprint(F.col("text")).alias("fingerprint")
    )
    p2 = _plan(dedup.incremental_dedup(batch, index))
    assert "CartesianProduct" not in p2
    assert "hashpartitioning(fingerprint" in p2
    assert "Exchange SinglePartition" not in p2


def test_line_dedup_broadcasts_frequent_set(spark):
    """The frequent-line set must reach the line stream as a BROADCAST
    anti-join (boilerplate sets are tiny by construction) — the line stream
    itself never shuffles on the line key for the removal, and nothing
    cross-joins."""
    from lumbermill_spark.extras import textstats

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(textstats.remove_frequent_lines(textstats.augment_lines(docs)))
    assert "BroadcastHashJoin" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "Exchange SinglePartition" not in plan


def test_unigram_logprob_broadcasts_vocab(spark):
    """Scoring must probe a BROADCAST top-K vocabulary; the top-K itself is
    a distributed TakeOrdered, never a single-partition global sort/window."""
    from lumbermill_spark.extras import textstats

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(textstats.unigram_logprob(docs, vocab_k=16))
    assert "BroadcastHashJoin" in plan
    # the vocab/oov frames were materialized by their eager pins (_plan.pin)
    # (their top-K ran as a distributed TakeOrdered in that job; tie-break
    # determinism is golden-tested) so the scoring plan probes pre-built
    # ExistingRDDs — ONE corpus scan, no sort, no window, no cartesian
    assert plan.count("FileScan parquet") == 1
    assert "Scan ExistingRDD" in plan
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    assert "Sort [" not in plan


def test_pack_sequences_bucketed_and_bounded(spark):
    """The materialized packing must keep the bucket-partitioned two-level
    shape (broadcast offsets join, no single-partition window) all the way
    through the shard_id groupBy."""
    from lumbermill_spark.extras import textstats

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(textstats.pack_sequences(docs, bucket=64))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Exchange SinglePartition" not in plan


def test_take_per_stratum_prefilters_before_window(spark):
    """The stratified take must filter on the broadcast per-stratum cutoff
    BELOW the row_number window (the whole point: the window sorts ~8k rows
    per stratum, not the stratum) and must window on the strata key."""
    from lumbermill_spark.extras import textstats

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(textstats.take_per_stratum(docs, k=2))
    assert "Exchange SinglePartition" not in plan
    assert "BroadcastHashJoin" in plan
    assert "hashpartitioning(lang" in plan


def test_chunk_sliding_is_pure_projection(spark):
    """Chunking must stay a shuffle-free explode projection — no Exchange,
    no Python, no join of any kind."""
    from lumbermill_spark.extras import textstats

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(textstats.chunk_sliding(docs))
    # only the conditional input-widening repartition may exchange
    assert plan.count("Exchange") == plan.count("Exchange hashpartitioning(doc_id")
    assert plan.count("Exchange") <= 1
    assert "Join" not in plan
    assert "Python" not in plan


def test_conv_corpus_single_shuffle_no_python(spark):
    """Each transcript-corpus op is one hash aggregate on its group key —
    no Python, no join, no second Exchange."""
    from lumbermill_spark.extras import convcorpus

    df = spark.createDataFrame(
        [("c", 1, "user", "t", None, None)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    for op in (convcorpus.render_conversations, convcorpus.conv_stats, convcorpus.boilerplate_turns):
        plan = _plan(op(df))
        assert "Python" not in plan, op.__name__
        assert "Join" not in plan, op.__name__
        assert plan.count("Exchange") <= 2, op.__name__  # distinct-agg adds one


def test_conv_curate_single_exchange(spark):
    """Render + verdict composes into ONE exchange: curate's signals are
    pure projections over render's grouped output."""
    from lumbermill_spark.extras import convcorpus

    df = spark.createDataFrame(
        [("c", 1, "user", "t", None, None)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    plan = _plan(convcorpus.curate_conversations(df))
    assert plan.count("Exchange") == 1
    assert "Join" not in plan
    # exactly ONE Python node: the vectorized repetition-count kernel
    # (integer counts only, riding render's exchange — no extra shuffle)
    assert plan.count("ArrowEvalPython") == 1
    assert "BatchEvalPython" not in plan


def test_trigram_scoring_joins_are_hash_equality(spark):
    """The stupid-backoff scoring joins must be equality hash joins on the
    n-gram keys — never cartesian/nested-loop — and the K-bounded vocab and
    unigram tables ride broadcast."""
    from lumbermill_spark.extras import textstats

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(textstats.trigram_logprob(docs, vocab_k=8))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "Exchange SinglePartition" not in plan


def test_semdedup_pairs_join_is_cell_equality(spark):
    """SemDeDup's within-cell pair scan must be an equality join on the cell
    id — the only nested-loop allowed is the 16-row broadcast centroid
    assignment (same bound as topk_bruteforce's broadcast queries)."""
    from lumbermill_spark.extras import dedup

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = _plan(dedup.semdedup(e))
    assert "CartesianProduct" not in plan
    assert "Exchange SinglePartition" not in plan


def test_blocklist_join_is_broadcast(spark):
    """The suffix-candidate lookup must be a broadcast hash join on the
    entry string — never a LIKE scan or nested loop over the blocklist."""
    from lumbermill_spark.extras import textstats

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(textstats.blocklist_filter(textstats.augment_urls(docs)))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_duplicate_spans_windows_stay_doc_partitioned(spark, lazy_pins):
    """The interval-union windows must partition on doc_id (never global),
    and candidate marking must be an equality join on the shingle digest."""
    from lumbermill_spark.extras import dedup, textstats

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(dedup.duplicate_spans(textstats.augment_lines(docs)))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Exchange SinglePartition" not in plan


def test_corpus_prepare_one_scan_one_shuffle(spark):
    """The fused preparation plan must cost exactly one corpus scan and one
    shuffle: every signal/split column is a projection, only the
    normalized-fingerprint window exchanges — and no join, no Python."""
    from lumbermill_spark.extras import textstats

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(textstats.corpus_prepare(docs))
    # the input-widening doc_id repartition plus the normalized-fingerprint
    # window — nothing else may exchange
    assert plan.count("Exchange hashpartitioning") == 2
    assert plan.count("Exchange hashpartitioning(doc_id") == 1
    assert plan.count("Exchange hashpartitioning(_nfp") == 1
    assert "Exchange SinglePartition" not in plan
    assert "Join" not in plan
    # the single allowed Python node is the repetition-count kernel
    assert plan.count("ArrowEvalPython") == 1
    assert "BatchEvalPython" not in plan
    assert plan.count("FileScan") == plan.count("FileScan parquet") == 1


def test_conv_prepare_two_exchanges(spark):
    """render's conv_id shuffle + prepare's fingerprint window must be the
    ONLY exchanges in the fused transcript preparation plan — no join, no
    Python, no global partition."""
    from lumbermill_spark.extras import convcorpus

    df = spark.read.parquet(datagen.ensure_transcripts(0.001))
    plan = _plan(convcorpus.prepare_conversations(df))
    assert plan.count("Exchange hashpartitioning") == 2
    assert "Exchange SinglePartition" not in plan
    assert "Join" not in plan
    # the single allowed Python node is the repetition-count kernel
    assert plan.count("ArrowEvalPython") == 1
    assert "BatchEvalPython" not in plan


def test_pq_scan_joins_are_broadcast(spark):
    """Encode and ADC must broadcast the bounded codebook/LUT sides — never
    a shuffle join on the code stream, never a cartesian over candidates."""
    from lumbermill_spark.extras import similarity

    sf_dir = "/root/testdata/sf0.001"
    books = spark.read.parquet(similarity.ensure_pq_codebooks(sf_dir)).select("m", "cid", "cv")
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    plan = _plan(similarity.topk_pq(e, books))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ivfpq_scan_joins_are_broadcast(spark):
    """IVF-PQ's encode/LUT joins broadcast the bounded artifact sides; the
    candidate stream never sort-merge-joins or cross-products."""
    from lumbermill_spark.extras import similarity

    sf_dir = "/root/testdata/sf0.001"
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = spark.read.parquet(similarity.ensure_trained_centroids(sf_dir)).select("cid", "cv")
    books = spark.read.parquet(similarity.ensure_pq_residual_codebooks(sf_dir)).select(
        "m", "cid", "cv"
    )
    plan = _plan(similarity.topk_ivfpq(e, cents, books))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_conv_mask_truncate_taking_single_conv_exchange(spark):
    """loss_mask_spans / truncate_to_budget / turn_taking each cost exactly
    the conv_id exchanges their windows need — no Python, no join, no
    global partition; the window partition spec carries conv_id."""
    from lumbermill_spark.extras import convcorpus

    df = spark.createDataFrame(
        [("c", 1, "user", "t", None, None)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    for op, max_exch in (
        (convcorpus.loss_mask_spans, 1),
        (convcorpus.truncate_to_budget, 2),  # window exchange reused; agg may re-hash
        (convcorpus.turn_taking, 2),  # distinct-agg expand adds one
    ):
        plan = _plan(op(df))
        assert "Python" not in plan, op.__name__
        assert "Join" not in plan, op.__name__
        assert "Exchange SinglePartition" not in plan, op.__name__
        assert plan.count("Exchange hashpartitioning") <= max_exch, op.__name__
        assert "hashpartitioning(conv_id" in plan, op.__name__


def test_conv_tool_flow_windows_stay_partitioned(spark):
    """The transition share window must run partitioned by prev_tool on the
    already-aggregated table — never a single-partition global window."""
    from lumbermill_spark.extras import convcorpus

    df = spark.createDataFrame(
        [("c", 1, "user", "t", "bash", None)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    plan = _plan(convcorpus.tool_flow(df))
    assert "Python" not in plan
    assert "Exchange SinglePartition" not in plan
    assert "hashpartitioning(conv_id" in plan
    assert "hashpartitioning(prev_tool" in plan


def test_conv_near_dup_blocking_never_cross_joins(spark, lazy_pins):
    """Conversation near-dup inherits the minhash candidate contract: the
    band join is an equality join — no cartesian/nested-loop stage."""
    from lumbermill_spark.extras import convcorpus, dedup

    df = spark.createDataFrame(
        [("c", 1, "user", "some longer shingle-worthy text here", None, None)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    aug = convcorpus.augmented_conversations(df)
    plan = _plan(dedup.minhash_lsh_pairs(aug))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    spark.catalog.clearCache()


def test_pca_projection_never_shuffles(spark):
    """The PCA projection is broadcast-only over the vector stream: no
    Exchange of any kind, no sort-merge join, no Python."""
    from lumbermill_spark.extras import similarity

    sf_dir = "/root/testdata/sf0.001"
    model = spark.read.parquet(similarity.ensure_pca_model(sf_dir))
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    plan = _plan(similarity.project_pca(e, model))
    # only the conditional input-widening vec_id repartition may exchange
    assert plan.count("Exchange hashpartitioning") == plan.count(
        "Exchange hashpartitioning(vec_id"
    )
    assert plan.count("Exchange hashpartitioning") <= 1
    assert "SortMergeJoin" not in plan
    assert "Python" not in plan


def test_corpus_datacard_two_exchanges_no_python(spark):
    """The fused data card costs exactly two exchanges (fingerprint window,
    (lang, split) aggregate) — no join, no Python, no global partition."""
    from lumbermill_spark.extras import textstats

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(textstats.corpus_datacard(docs))
    assert "Python" not in plan
    assert "Join" not in plan
    assert "Exchange SinglePartition" not in plan
    # fingerprint window + (lang, split) aggregate + the input-widening
    # doc_id repartition
    assert plan.count("Exchange hashpartitioning") == 3
    assert plan.count("Exchange hashpartitioning(doc_id") == 1


def test_render_sessions_single_exchange(spark):
    """The session groupBy must REUSE the window's conv_id partitioning
    (hashpartitioning(conv_id) satisfies clustering on (conv_id,
    session_idx)) — one exchange, no Python, no join."""
    from lumbermill_spark.extras import convcorpus

    df = spark.read.parquet(datagen.ensure_transcripts(0.001))
    plan = _plan(convcorpus.render_sessions(df))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Exchange SinglePartition" not in plan
    assert "Python" not in plan and "Join" not in plan


def test_sketch_ops_broadcast_and_bounded(spark, lazy_pins):
    """The sketch suite's scale contracts: CMS probes and the bloom bit
    table BROADCAST (never sort-merge or cartesian); the HLL register fold
    has no corpus-sized single partition (the one global agg folds 256
    pre-aggregated register rows)."""
    from pyspark.sql import functions as FF

    from lumbermill_spark.extras import sketch, textstats

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    # lazy_pins: inspect the LAZY plan (the eager pin collapses it to a
    # LogicalRDD)
    p_cms = _plan(sketch.cms_topk(docs))
    assert "BroadcastHashJoin" in p_cms
    assert "SortMergeJoin" not in p_cms and "CartesianProduct" not in p_cms

    index = docs.filter(FF.col("doc_id") % sketch.BLOOM_INDEX_MOD == 0).select(
        textstats.fingerprint(FF.col("text")).alias("fingerprint")
    )
    batch = docs.filter(FF.col("doc_id") % sketch.BLOOM_INDEX_MOD != 0)
    p_bloom = _plan(sketch.bloom_prefilter(batch, index))
    assert "BroadcastHashJoin" in p_bloom
    assert "CartesianProduct" not in p_bloom

    p_hll = _plan(sketch.hll_distinct(docs))
    # partial_max per bucket must combine map-side BEFORE the global fold
    assert "partial_max" in p_hll or "partial_" in p_hll
    assert "Python" not in p_hll


def test_conv_redact_pure_projection(spark):
    """Turn redaction is a per-row projection: no exchange, no Python."""
    from lumbermill_spark.extras import convcorpus

    df = spark.createDataFrame(
        [("c", 1, "user", "t 10.0.0.1", None, None)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    plan = _plan(convcorpus.redact_turns(convcorpus.augment_turn_pii(df)))
    assert "Exchange" not in plan
    assert "Python" not in plan
