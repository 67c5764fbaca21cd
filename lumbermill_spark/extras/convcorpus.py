"""Transcript→training-corpus operators: the bridge between the pipeline's
input domain (multi-turn conversation transcripts, BASELINE.json input_hint
shape) and the training-data extras. A corpus team ingesting agent
transcripts runs exactly these three before anything else: render each
conversation into one training document, profile conversations, and flag
turns that are cross-conversation boilerplate.

All native Catalyst expressions — zero Python, one hash shuffle each
(conv_id or the 32-hex turn fingerprint), per-group state bounded by
conversation length. Rows with NULL conv_id (drain lines that never carried
a conversation) are excluded by contract, mirroring lm_turn_ordering."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import _plan

TURN_SEP = "\n"
BOILER_MIN_CONVS = 50  # a turn text seen in >= this many convs is boilerplate
MASK_ROLES = ("heroku",)  # infrastructure/log turns carry no training loss
CONV_TOKEN_BUDGET = 256  # ws-token context budget for truncate_to_budget
CONV_DEDUP_PREFIX = 512  # rendered chars that participate in near-dup fingerprinting
CONV_DUP_MOD = 13  # deterministic synthetic exact copies (gate recall)
CONV_NEAR_MOD = 29  # deterministic synthetic near copies
CONV_NEAR_HEADER = "variant: "  # prepended so the near copy differs INSIDE the prefix


def render_conversations(df: DataFrame) -> DataFrame:
    """(conv_id, n_turns, n_chars, rendered): each conversation as ONE
    training document — 'role: text' lines joined by newline in turn_idx
    order ((conv_id, turn_idx) is unique by the input contract). The
    collect_list is bounded by conversation length, never corpus size."""
    d = df.filter(F.col("conv_id").isNotNull()).select(
        "conv_id",
        "turn_idx",
        F.concat_ws(": ", F.col("role"), F.col("text")).alias("_line"),
    )
    lines = F.transform(
        F.array_sort(F.collect_list(F.struct("turn_idx", "_line"))), lambda s: s["_line"]
    )
    return (
        d.groupBy("conv_id")
        .agg(
            F.count("*").cast("int").alias("n_turns"),
            F.array_join(lines, TURN_SEP).alias("rendered"),
        )
        .select(
            "conv_id",
            "n_turns",
            F.length("rendered").cast("bigint").alias("n_chars"),
            "rendered",
        )
    )


def conv_stats(df: DataFrame) -> DataFrame:
    """Per-conversation report card: turns, distinct roles/tools, total text
    chars, and exact duration in microseconds (bigint end-to-end so no
    float time arithmetic enters the cross-engine contract)."""
    return (
        df.filter(F.col("conv_id").isNotNull())
        .groupBy("conv_id")
        .agg(
            F.count("*").cast("int").alias("n_turns"),
            F.countDistinct("role").cast("int").alias("n_roles"),
            F.countDistinct("tool").cast("int").alias("n_tools"),
            F.sum(F.length("text")).cast("bigint").alias("total_chars"),
            (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).cast("bigint").alias("duration_us"),
        )
    )


def boilerplate_turns(df: DataFrame) -> DataFrame:
    """(turn_fp, n_convs, n_turns, boilerplate): md5 fingerprint of the raw
    turn text, how many distinct conversations and turns carry it, and the
    >= BOILER_MIN_CONVS verdict — the transcript twin of the documents
    table's frequent-line removal (template/system messages repeat across
    conversations exactly like web boilerplate repeats across pages)."""
    return (
        df.filter(F.col("conv_id").isNotNull())
        .select(F.md5(F.col("text")).alias("turn_fp"), "conv_id")
        .groupBy("turn_fp")
        .agg(
            F.countDistinct("conv_id").cast("int").alias("n_convs"),
            F.count("*").cast("bigint").alias("n_turns"),
        )
        .withColumn("boilerplate", F.col("n_convs") >= BOILER_MIN_CONVS)
    )


def curate_conversations(df: DataFrame) -> DataFrame:
    """End-to-end transcript curation as ONE lazy plan: render each
    conversation into a training document, then run the standard corpus
    verdict (token bounds / quality / repetition / language-ID) over the
    rendered text — render's conv_id shuffle feeds curate's pure
    projections directly, so the whole composition still costs exactly one
    exchange. Output is corpus_curate's contract keyed by the conversation
    id (doc_id: string here)."""
    from . import textstats

    rendered = render_conversations(df).select(
        F.col("conv_id").alias("doc_id"), F.col("rendered").alias("text")
    )
    return textstats.corpus_curate(rendered)


def pack_conversations(df: DataFrame) -> DataFrame:
    """Pretraining prep for transcripts: render each conversation, then
    pack the rendered documents into token-budget shards in deterministic
    SHUFFLED order (textstats.pack_shards_shuffled over conv_id keys — its
    hash bucketing is key-type-agnostic, so the string conv_id rides the
    same two-level prefix sum). Output: pack_shards_shuffled's contract
    with doc_id = conv_id."""
    from . import textstats

    rendered = render_conversations(df).select(
        F.col("conv_id").alias("doc_id"), F.col("rendered").alias("text")
    )
    return textstats.pack_shards_shuffled(rendered)


def loss_mask_spans(df: DataFrame) -> DataFrame:
    """SFT loss-mask construction: for every turn, its character span
    [span_start, span_end) inside the conversation's rendered training
    document (render_conversations layout: 'role: text' lines joined by
    TURN_SEP) and whether the span is TRAINABLE — infrastructure/log roles
    (MASK_ROLES) are masked out of the loss exactly the way an SFT pipeline
    masks non-assistant turns; every other role trains. Downstream, the
    tokenizer maps char spans to token spans and the mask rides along.

    Shape at 10^12 turns: ONE conv_id hash shuffle feeding a running-sum
    window whose state is a single long — no rendered text is materialized
    here at all (only line lengths), so this is strictly cheaper than
    conv_render despite sharing its exchange."""
    d = df.filter(F.col("conv_id").isNotNull()).select(
        "conv_id",
        "turn_idx",
        "role",
        F.length(F.concat_ws(": ", F.col("role"), F.col("text"))).cast("bigint").alias("_len"),
    )
    w = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = F.coalesce(F.sum(F.col("_len") + len(TURN_SEP)).over(w), F.lit(0)).cast("bigint")
    return d.select(
        "conv_id",
        "turn_idx",
        "role",
        start.alias("span_start"),
        (start + F.col("_len")).cast("bigint").alias("span_end"),
        (~F.col("role").isin(*MASK_ROLES)).alias("trainable"),
    )


def truncate_to_budget(df: DataFrame, budget: int = CONV_TOKEN_BUDGET) -> DataFrame:
    """Context-window truncation: keep the longest SUFFIX of turns whose
    cumulative ws-token count fits the budget (most-recent-turns-win, the
    standard chat-template rule), plus the conversation's FIRST turn as the
    context anchor (the system-prompt-survives rule) even when the suffix
    budget has already evicted it. Per conversation: total/kept turns, kept
    tokens, and whether the anchor rule had to resurrect the head turn.

    One conv_id hash shuffle; both windows (the reverse running sum and the
    min-turn anchor) ride the same exchange, and the aggregate folds on the
    already-partitioned data — O(1) state per conversation."""
    from . import textstats

    d = df.filter(F.col("conv_id").isNotNull()).select(
        "conv_id",
        "turn_idx",
        textstats.ws_token_count(F.col("text")).cast("bigint").alias("_tok"),
    )
    w_sfx = (
        Window.partitionBy("conv_id")
        .orderBy(F.col("turn_idx").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("conv_id")
    d = d.select(
        "conv_id",
        "_tok",
        (F.sum("_tok").over(w_sfx) <= budget).alias("_keep_sfx"),
        (F.col("turn_idx") == F.min("turn_idx").over(w_all)).alias("_is_head"),
    )
    keep = F.col("_keep_sfx") | F.col("_is_head")
    return d.groupBy("conv_id").agg(
        F.count("*").cast("int").alias("n_turns"),
        F.sum(keep.cast("int")).cast("int").alias("kept_turns"),
        F.sum(F.when(keep, F.col("_tok")).otherwise(0)).cast("bigint").alias("kept_tokens"),
        F.max(F.col("_is_head") & ~F.col("_keep_sfx")).alias("head_resurrected"),
    )


def _conv_bucket(c) -> "F.Column":
    """24-bit integer bucket from md5 of a string key — the cross-engine
    string-hash trick (Spark conv(substr(md5(k),1,6),16,10) equals DuckDB
    ('0x'||substring(md5(k),1,6))::BIGINT), used to pick deterministic
    augmentation subsets of string-keyed conversations."""
    return F.conv(F.substring(F.md5(c), 1, 6), 16, 10).cast("bigint")


def augmented_conversations(df: DataFrame) -> DataFrame:
    """Rendered conversations, prefix-capped for fingerprinting, plus
    deterministic synthetic copies so the correctness gate exercises real
    duplicate pairs (the transcript twin of dedup.augmented_docs): an EXACT
    copy of every conversation whose md5 bucket hits CONV_DUP_MOD
    (`<conv_id>~dup`), and a NEAR copy (CONV_NEAR_MOD, `<conv_id>~near`)
    with a short header prepended so the perturbation lands INSIDE the
    fingerprinted prefix and the pair verifies at Jaccard < 1.

    The prefix cap is the scale story, not a test shortcut: near-duplicate
    conversations share their opening turns (same system prompt, same first
    exchange), so fingerprinting the head bounds per-document shingle cost
    at 10^12 turns regardless of conversation length."""
    r = render_conversations(df).select(
        F.col("conv_id").alias("doc_id"),
        F.substring("rendered", 1, CONV_DEDUP_PREFIX).alias("text"),
    )
    # one explode instead of a 3-branch union: a union would duplicate the
    # render subtree (a full conv_id shuffle + collect_list over every turn)
    # into each branch and compute it 3x per materialization — the explode
    # emits the original plus its conditional copies in a single pass over
    # one render. Same rows (union order is not part of any contract).
    h = _conv_bucket(F.col("doc_id"))
    copies = F.array(
        F.struct(F.col("doc_id"), F.col("text")),
        F.when(
            h % CONV_DUP_MOD == 0,
            F.struct(F.concat("doc_id", F.lit("~dup")).alias("doc_id"), F.col("text")),
        ),
        F.when(
            h % CONV_NEAR_MOD == 0,
            F.struct(
                F.concat("doc_id", F.lit("~near")).alias("doc_id"),
                F.substring(
                    F.concat(F.lit(CONV_NEAR_HEADER), F.col("text")), 1, CONV_DEDUP_PREFIX
                ).alias("text"),
            ),
        ),
    )
    return r.select(
        F.explode(F.filter(copies, lambda x: x.isNotNull())).alias("_c")
    ).select("_c.doc_id", "_c.text")


def near_dup_conversations(df: DataFrame) -> DataFrame:
    """Conversation-level near-duplicate detection: MinHash+LSH over the
    prefix-capped rendered documents, reusing dedup.minhash_lsh_pairs
    verbatim (banded signatures → equality-join candidates → estimate
    pre-filter → exact shingle-Jaccard verification; string conv_id keys
    band and compare identically on both engines). The rendered frame is
    persisted across the three augmentation branches so render's conv_id
    shuffle runs once, and released after the pair result materializes."""
    from . import dedup

    aug = augmented_conversations(df).persist()
    try:
        return dedup.minhash_lsh_pairs(aug)
    finally:
        aug.unpersist()


def turn_taking(df: DataFrame) -> DataFrame:
    """Per-conversation turn-taking QA report — the SFT-ingest validation
    pass: turn_idx uniqueness and contiguity (dropped/duplicated turns),
    consecutive same-role runs (a broken dialogue state machine), and the
    opener role. One conv_id hash shuffle: the lag window and the fold both
    ride it; per-group state is O(1)."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    d = df.filter(F.col("conv_id").isNotNull()).select(
        "conv_id",
        "turn_idx",
        "role",
        F.lag("role").over(w).alias("_prev_role"),
    )
    out = d.groupBy("conv_id").agg(
        F.count("*").cast("int").alias("n_turns"),
        F.countDistinct("turn_idx").cast("int").alias("n_distinct_idx"),
        F.min("turn_idx").cast("int").alias("first_idx"),
        F.max("turn_idx").cast("int").alias("last_idx"),
        F.coalesce(
            F.sum((F.col("role") == F.col("_prev_role")).cast("int")), F.lit(0)
        ).cast("bigint").alias("role_repeats"),
        F.min(F.struct("turn_idx", "role"))["role"].alias("opener_role"),
    )
    return out.withColumn(
        "contiguous",
        (F.col("n_distinct_idx") == F.col("n_turns"))
        & (F.col("last_idx") - F.col("first_idx") + 1 == F.col("n_turns")),
    )


def tool_flow(df: DataFrame) -> DataFrame:
    """Tool-call transition matrix: over each conversation's tool-bearing
    turns in turn order, count (prev_tool → tool) transitions corpus-wide
    and each transition's share of its prev_tool row. Agent-behavior
    analytics: which tool follows which. Two bounded exchanges — the
    conv_id lag window, then a map-side-combined (prev_tool, tool) count;
    the share window runs on the already-tiny |tools|² aggregate."""
    d = df.filter(F.col("conv_id").isNotNull() & F.col("tool").isNotNull()).select(
        "conv_id", "turn_idx", "tool"
    )
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    d = d.select(F.lag("tool").over(w).alias("prev_tool"), "tool")
    out = (
        d.filter(F.col("prev_tool").isNotNull())
        .groupBy("prev_tool", "tool")
        .agg(F.count("*").cast("bigint").alias("n_transitions"))
    )
    wt = Window.partitionBy("prev_tool")
    return out.withColumn(
        "frac", F.round(F.col("n_transitions") / F.sum("n_transitions").over(wt), 12)
    )


CONV_SESSION_GAP_US = 600_000_000  # 10 min of silence starts a new session


def session_split(df: DataFrame, gap_us: int = CONV_SESSION_GAP_US) -> DataFrame:
    """Split each conversation into SESSIONS at idle gaps (> gap_us between
    consecutive turns in turn_idx order) and re-key every turn: session_id
    = '<conv_id>#<session_idx>' and a session-local turn index. The
    context-reset preprocessing an agent-transcript corpus runs before
    rendering/packing — a week-long conversation becomes several bounded
    training documents instead of one document with day-sized holes.

    One conv_id exchange carries the whole chain (lag → gap flag → running
    session sum → session-local row_number); per-group state is O(1).
    Negative/zero gaps (out-of-order timestamps) never split."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    d = df.filter(F.col("conv_id").isNotNull()).select(
        "conv_id",
        "turn_idx",
        (F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))).alias("_gap"),
    )
    d = d.withColumn(
        "session_idx",
        F.sum(F.when(F.col("_gap") > gap_us, 1).otherwise(0))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("int"),
    )
    ws = Window.partitionBy("conv_id", "session_idx").orderBy("turn_idx")
    return d.select(
        "conv_id",
        "turn_idx",
        F.concat_ws("#", F.col("conv_id"), F.col("session_idx")).alias("session_id"),
        "session_idx",
        (F.row_number().over(ws) - 1).cast("int").alias("sess_turn_idx"),
    )


def render_sessions(df: DataFrame, gap_us: int = CONV_SESSION_GAP_US) -> DataFrame:
    """Session-bounded training documents: assign turns to idle-gap
    sessions (session_split's rule) and render each SESSION as one 'role:
    text' document — a week-long conversation becomes several coherent
    documents instead of one with day-sized holes. ONE exchange total: the
    session window partitions by conv_id, and the (conv_id, session_idx)
    groupBy reuses that partitioning (hashpartitioning(conv_id) satisfies
    clustering on the superset key — the lm_sessions plan lesson)."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    d = df.filter(F.col("conv_id").isNotNull()).select(
        "conv_id",
        "turn_idx",
        F.concat_ws(": ", F.col("role"), F.col("text")).alias("_line"),
        (F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))).alias("_gap"),
    )
    d = d.withColumn(
        "session_idx",
        F.sum(F.when(F.col("_gap") > gap_us, 1).otherwise(0))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("int"),
    )
    lines = F.transform(
        F.array_sort(F.collect_list(F.struct("turn_idx", "_line"))), lambda s: s["_line"]
    )
    return (
        d.groupBy("conv_id", "session_idx")
        .agg(
            F.count("*").cast("int").alias("n_turns"),
            F.array_join(lines, TURN_SEP).alias("rendered"),
        )
        .select(
            F.concat_ws("#", F.col("conv_id"), F.col("session_idx")).alias("session_id"),
            "conv_id",
            "session_idx",
            "n_turns",
            F.length("rendered").cast("bigint").alias("n_chars"),
            "rendered",
        )
    )


def memorization_conversations(df: DataFrame, weights=None) -> DataFrame:
    """Transcript twin of textstats.memorization_scan: held-out rendered
    conversations audited for 8-gram overlap with the train split — did the
    eval conversations leak into training? Runs over the PREFIX-CAPPED
    augmented frame (augmented_conversations) so synthetic copies straddle
    splits and the hit path is value-verified; string conv_id keys hash and
    split identically on both engines."""
    from . import textstats

    kwargs = {"weights": weights} if weights else {}
    return textstats.memorization_scan(augmented_conversations(df), **kwargs)


def pack_sessions(df: DataFrame) -> DataFrame:
    """Session-aware shard packing: split conversations at idle gaps,
    render each SESSION as a document (render_sessions — one exchange), and
    pack the session documents into token-budget shards in deterministic
    shuffled order (pack_shards_shuffled over the string session_id keys).
    The full transcript→training-shards path a context-reset-aware corpus
    actually ships."""
    from . import textstats

    rendered = render_sessions(df).select(
        F.col("session_id").alias("doc_id"), F.col("rendered").alias("text")
    )
    return textstats.pack_shards_shuffled(rendered)


def datacard_conversations(df: DataFrame, weights=None) -> DataFrame:
    """The transcript release report: render each conversation, predict its
    language with the standard n-gram langid, and run the fused data card
    (docs, tokens, exact percentiles, mean quality, duplicates, cross-split
    leakage) per (pred_lang, split). Same two-exchange shape as the
    documents data card on top of render's conv_id exchange; the langid is
    a pure projection riding between them."""
    from . import textstats

    rendered = render_conversations(df).select(
        F.col("conv_id").alias("doc_id"), F.col("rendered").alias("text")
    )
    d = textstats.with_langid(rendered).select(
        "doc_id", "text", F.col("pred_lang").alias("lang")
    )
    kwargs = {"weights": weights} if weights else {}
    return textstats.corpus_datacard(d, **kwargs)


def bpe_conversations(df: DataFrame) -> DataFrame:
    """Tokenizer training ON TRANSCRIPTS: render each conversation and run
    BPE merge induction (textstats.bpe_merges) over the rendered documents
    — the tokenizer a transcript corpus would actually ship. The rendered
    frame is the trainer's only corpus-size input; every merge round runs
    on the distinct-word symbol table."""
    from . import textstats

    rendered = render_conversations(df).select(
        F.col("conv_id").alias("doc_id"), F.col("rendered").alias("text")
    )
    return textstats.bpe_merges(rendered)


def prepare_conversations(df: DataFrame) -> DataFrame:
    """Transcript-axis twin of textstats.corpus_prepare: render each
    conversation, then run the fused preparation plan (curation signals +
    verdict, normalized-dedup canonicality, train/val/test split) over the
    rendered documents. Two exchanges total: render's conv_id shuffle and
    prepare's normalized-fingerprint window — every other column is a
    projection. Output is corpus_prepare's contract with doc_id = conv_id
    (string keys hash/split identically on both engines)."""
    from . import textstats

    rendered = render_conversations(df).select(
        F.col("conv_id").alias("doc_id"), F.col("rendered").alias("text")
    )
    return textstats.corpus_prepare(rendered)


PAGERANK_D = 0.85
PAGERANK_ITERS = 10


def tool_pagerank(df: DataFrame, d: float = PAGERANK_D, iters: int = PAGERANK_ITERS) -> DataFrame:
    """PageRank over the tool-transition graph: which tools sit at the
    center of agent workflows, beyond raw call counts. Nodes are every tool
    observed on either side of a transition; edge weight src→dst is the
    transition count normalized by src's out-degree; dangling tools (no
    outgoing edges) spread their rank uniformly. PAGERANK_ITERS damped
    power iterations, then (tool, pr 12 dp, rank).

    The corpus-sized work is tool_flow's two bounded exchanges — every
    iteration runs on the |tools|-row graph. Cross-engine float discipline:
    each node's incoming mass folds over contributions ORDERED BY source
    tool, and the dangling mass folds ordered by tool, so both engines add
    identical float64 sequences; d is kept a float64 literal end to end
    (never a DECIMAL)."""
    edges = tool_flow(df).select(
        F.col("prev_tool").alias("src"),
        F.col("tool").alias("dst"),
        "n_transitions",
    )
    wsrc = Window.partitionBy("src")
    edges = _plan.pin(
        edges.select(
            "src",
            "dst",
            (F.col("n_transitions") / F.sum("n_transitions").over(wsrc)).alias("w"),
        )
    )
    nodes = _plan.pin(
        edges.select(F.col("src").alias("tool"))
        .unionByName(edges.select(F.col("dst").alias("tool")))
        .distinct()
    )
    n = nodes.count()
    has_out = edges.select(F.col("src").alias("tool")).distinct()
    dangling = _plan.pin(nodes.join(has_out, "tool", "left_anti"))

    ranks = nodes.select("tool", F.lit(1.0 / n).alias("pr"))
    for _ in range(iters):
        dang = (
            dangling.join(ranks, "tool")
            .groupBy()
            .agg(F.array_sort(F.collect_list(F.struct("tool", "pr"))).alias("ds"))
            .select(
                F.coalesce(
                    F.aggregate("ds", F.lit(0.0), lambda acc, s: acc + s["pr"]), F.lit(0.0)
                ).alias("dsum")
            )
        )
        contrib = (
            edges.join(ranks.withColumnRenamed("tool", "src"), "src")
            .select("dst", "src", (F.col("pr") * F.col("w")).alias("c"))
            .groupBy("dst")
            .agg(F.array_sort(F.collect_list(F.struct("src", "c"))).alias("cs"))
            .select(
                F.col("dst").alias("tool"),
                F.aggregate("cs", F.lit(0.0), lambda acc, s: acc + s["c"]).alias("contrib"),
            )
        )
        ranks = _plan.pin(
            nodes.crossJoin(dang)
            .join(contrib, "tool", "left")
            .select(
                "tool",
                (
                    F.lit((1.0 - d) / n)
                    + F.lit(d)
                    * (F.col("dsum") / F.lit(float(n)) + F.coalesce("contrib", F.lit(0.0)))
                ).alias("pr"),
            )
        )
    w_rank = Window.orderBy(F.col("pr").desc(), "tool")
    return ranks.select(
        "tool", F.round("pr", 12).alias("pr"), F.row_number().over(w_rank).cast("int").alias("rank")
    )


CONV_PII_EMAIL_MOD = 11  # turn-level gate augmentation (emails)
CONV_PII_PHONE_MOD = 17  # turn-level gate augmentation (phones)


def augment_turn_pii(df: DataFrame) -> DataFrame:
    """Deterministic turn-level PII augmentation (the gate convention:
    router logs carry IPs naturally, but no emails/phones — these CASE
    appends make every redaction path fire and stay oracle-replayable).
    Bucket = md5 of 'conv_id#turn_idx'."""
    b = _conv_bucket(F.concat_ws("#", F.col("conv_id"), F.col("turn_idx").cast("string")))
    email = F.when(
        b % CONV_PII_EMAIL_MOD == 0,
        F.concat(F.lit(" contact user"), F.col("turn_idx").cast("string"), F.lit("@example.com")),
    ).otherwise(F.lit(""))
    phone = F.when(b % CONV_PII_PHONE_MOD == 0, F.lit(" call 555-123-4567")).otherwise(F.lit(""))
    return df.withColumn("text", F.concat(F.col("text"), email, phone))


def redact_turns(df: DataFrame) -> DataFrame:
    """Turn-level PII redaction — the anonymization pass a transcript
    corpus runs before release: the SAME chain and replace ORDER as
    textstats.redact_pii (emails → IPs → phones; order is contract: an
    address's host part must never half-match as an IP), keyed by
    (conv_id, turn_idx). Pure per-row projection: zero shuffle, zero
    Python, one codegen'd pass over the scan at any corpus size."""
    from . import textstats as TS

    t = F.col("text")
    n_emails = F.regexp_count(t, F.lit(TS.EMAIL_RX)).cast("int")
    red = F.regexp_replace(t, TS.EMAIL_RX, "<EMAIL>")
    n_ips = F.regexp_count(red, F.lit(TS.IPV4_RX)).cast("int")
    red = F.regexp_replace(red, TS.IPV4_RX, "<IP>")
    n_phones = F.regexp_count(red, F.lit(TS.PHONE_RX)).cast("int")
    red = F.regexp_replace(red, TS.PHONE_RX, "<PHONE>")
    return df.filter(F.col("conv_id").isNotNull()).select(
        "conv_id",
        "turn_idx",
        n_emails.alias("n_emails"),
        n_ips.alias("n_ips"),
        n_phones.alias("n_phones"),
        red.alias("redacted_text"),
    )


def dup_clusters_conversations(df: DataFrame, max_iter: int = 20) -> DataFrame:
    """Duplicate CLUSTERS over the conversation near-dup graph:
    dedup.connected_components with STRING conv_id labels (the
    lexicographic min reachable id is the cluster id; every augmented
    conversation gets a row, singletons are their own cluster). Near-dup
    components have tiny diameter, so convergence is 2-3 rounds. One persisted
    render feeds both the pairs and the nodes."""
    from . import dedup

    aug = augmented_conversations(df).persist()
    try:
        pairs = dedup.minhash_lsh_pairs(aug).select("doc_a", "doc_b")
        nodes = aug.select("doc_id").distinct()
        return dedup.connected_components(nodes, pairs, max_iter=max_iter)
    finally:
        aug.unpersist()


def vocab_conversations(df: DataFrame) -> DataFrame:
    """Tokenizer-vocabulary induction over RENDERED conversations: the
    top-K token coverage table (rank, count, frac, cum_frac) a transcript
    corpus inspects before committing a vocab size."""
    from . import textstats

    rendered = render_conversations(df).select(
        F.col("conv_id").alias("doc_id"), F.col("rendered").alias("text")
    )
    return textstats.vocab_topk(rendered)


def chunk_conversations(df: DataFrame) -> DataFrame:
    """RAG-style chunking of rendered conversations: overlapping token
    windows (textstats.chunk_sliding — zero-shuffle explode on top of
    render's single exchange), doc_id = conv_id."""
    from . import textstats

    rendered = render_conversations(df).select(
        F.col("conv_id").alias("doc_id"), F.col("rendered").alias("text")
    )
    return textstats.chunk_sliding(rendered)


def length_histogram_conversations(df: DataFrame) -> DataFrame:
    """Power-of-two length histogram of rendered conversations per
    PREDICTED language (the conv corpus has no lang label — langid rides as
    a pure projection between render and the histogram)."""
    from . import textstats

    rendered = render_conversations(df).select(
        F.col("conv_id").alias("doc_id"), F.col("rendered").alias("text")
    )
    d = textstats.with_langid(rendered).select(
        F.col("pred_lang").alias("lang"), "text"
    )
    return textstats.length_histogram(d)
