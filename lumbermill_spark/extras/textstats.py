"""Text analysis over the documents table: token counting, quality scoring,
language-ID heuristic, document fingerprinting.

Everything here is native Catalyst expressions (regexp_count / regexp_replace
/ md5) — whole-stage-codegen'd, zero Python on the hot path. Each op has an
exactly-equivalent DuckDB SQL oracle; the regex/stopword constants below are
the single source of truth for both sides (oracle built in oracle_extras.py).
"""

from __future__ import annotations

import pandas
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from . import _plan

# BPE-ish tokenization: runs of alphanumerics OR single non-space symbols
BPE_TOKEN_PAT = r"[A-Za-z0-9]+|[^A-Za-z0-9\s]"
PUNCT_PAT = r"[^\w\s]"
ALPHA_PAT = r"[A-Za-z]"
_ALPHA_CHARS = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"
_WORD_WS_CHARS = _ALPHA_CHARS + "0123456789_ \t\n\x0b\x0c\r"

STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "is"],
    "es": ["el", "la", "de", "que", "y", "en"],
    "de": ["der", "die", "das", "und", "ist"],
    "fr": ["le", "les", "et", "est", "une"],
}
LANG_ORDER = ["en", "es", "de", "fr"]  # deterministic argmax tie-break


def stopword_pat(lang: str) -> str:
    return r"\b(" + "|".join(STOPWORDS[lang]) + r")\b"


def ws_token_count(text: Column) -> Column:
    t = F.trim(text)
    return F.when(t == "", F.lit(0)).otherwise(F.size(F.split(t, r"\s+"))).cast("int")


def ws_words(text: Column) -> Column:
    """Whitespace words: split(trim(text), '\\s+'), and an empty array for
    empty or space-only text (where split would give ['']). NULL stays NULL.
    Callers that count lowercased words pass F.lower(col)."""
    t = F.trim(text)
    return F.when(t == "", F.array().cast("array<string>")).otherwise(F.split(t, r"\s+"))


_BPE_KEEP_CHARS = (
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789 \t\n\r\x0b\x0c"
)


def bpe_token_count(text: Column) -> Column:
    """Count of BPE_TOKEN_PAT matches, decomposed: every match is either an
    alphanumeric RUN or a single other-non-space char, and the two classes
    never overlap, so count = regexp_count(runs) + count(other chars). The
    second term drops the regex entirely (translate deletes the alnum+ws
    chars; what remains IS the other-char count) — the alternation form
    cost 19.5 s per pass over 50k rendered conversations at sf0.1, this
    reads 2.4 s, value-identical (pytest-pinned; ASCII-whitespace contract:
    \\x0b/\\x0c/\\t/\\n/\\r/space, the \\s set on this corpus)."""
    runs = F.regexp_count(text, F.lit(r"[A-Za-z0-9]+"))
    others = F.length(F.translate(text, _BPE_KEEP_CHARS, ""))
    return (runs + others).cast("int")


def normalized(text: Column) -> Column:
    return F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")


def fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 of whitespace-collapsed lowercase text."""
    return F.md5(normalized(text))


def with_token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    df = _plan.widen(df)
    t = F.col(text_col)
    return df.withColumn("n_ws_tokens", ws_token_count(t)).withColumn(
        "n_bpe_tokens", bpe_token_count(t)
    )


def _require_free(df: DataFrame, temps, op: str) -> None:
    """Raise if ``df`` already has a column named like one of ``op``'s staged
    temps: staging would overwrite it and the final drop would lose it."""
    clash = sorted({c.lower() for c in df.columns} & {t.lower() for t in temps})
    if clash:
        raise ValueError(f"{op}: input column(s) {clash} clash with its temporary columns")


def with_quality(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality score ∈ [0,1]: alpha density, low punctuation, stopword
    presence, length — the standard cheap pre-filter for corpus curation."""
    df = _plan.widen(df)
    t = F.col(text_col)
    length = F.greatest(F.length(t), F.lit(1)).cast("double")
    ntok = F.greatest(ws_token_count(t), F.lit(1)).cast("double")
    # single-char-class counts via translate length-difference instead of
    # regexp_count (the bpe_token_count trick): [A-Za-z] matches are exactly
    # the chars deleted by translate(t, alphabet, ''); [^\w\s] matches are
    # exactly the chars REMAINING after deleting the \w∪\s set (java \w =
    # [A-Za-z0-9_], \s = the 6 ASCII ws chars — both ASCII-only without
    # UNICODE_CHARACTER_CLASS, so the complement identity holds for every
    # input). Same integers, no java-regex scan, ~3× on long rendered docs.
    # Each non-cheap signal is STAGED as a column and referenced as an
    # attribute below: inlined expression trees repeated the translate /
    # regexp_count / split subtrees inside round(...) AND the score sum,
    # and once the fused curation projection grew past the codegen method
    # limit those duplicates were re-evaluated per reference (measured 5×
    # on sf1 rendered conversations — 63 s → 300 s when one more column
    # joined the projection). CollapseProject keeps a staged column staged
    # exactly when it is non-cheap and multi-referenced, which all of
    # these are. Same float ops in the same order — values bit-identical.
    temps = {
        "_q_alpha": (F.length(t) - F.length(F.translate(t, _ALPHA_CHARS, ""))) / length,
        "_q_punct": F.length(F.translate(t, _WORD_WS_CHARS, "")) / length,
        "_q_stop": F.regexp_count(F.lower(t), F.lit(stopword_pat("en"))).cast("double"),
        "_q_ntok": ntok,
    }
    _require_free(df, temps, "with_quality")
    df = df.withColumns(temps)
    alpha_ratio = F.col("_q_alpha")
    punct_ratio = F.col("_q_punct")
    stop_frac = F.least(F.col("_q_stop") / F.col("_q_ntok"), F.lit(1.0))
    score = (
        0.25 * alpha_ratio
        + 0.25 * (1.0 - F.least(punct_ratio * 4.0, F.lit(1.0)))
        + 0.25 * stop_frac
        + 0.25 * F.least(F.col("_q_ntok") / 100.0, F.lit(1.0))
    )
    return (
        df.withColumn("alpha_ratio", F.round(alpha_ratio, 6))
        .withColumn("punct_ratio", F.round(punct_ratio, 6))
        .withColumn("stopword_frac", F.round(stop_frac, 6))
        .withColumn("quality_score", F.round(score, 6))
        .drop(*temps.keys())
    )


def with_langid(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-hit language ID with fixed-precedence argmax ('und' if no
    hits anywhere)."""
    df = _plan.widen(df)
    # STAGED evaluation (see with_quality): lower(text) once, each lang's
    # regexp_count once as a column; the argmax when-chain reads attributes.
    # The inlined form embedded every count ~16× inside pred_lang's CASE
    # tree — fine while codegen CSE holds, 4 regex scans × 4 re-evaluations
    # once the fused projection falls out of codegen. Same counts, same
    # precedence — values identical.
    _require_free(df, ["_lc"], "with_langid")
    out = df.withColumn("_lc", F.lower(F.col(text_col)))
    for lang in LANG_ORDER:
        out = out.withColumn(
            "score_" + lang,
            F.regexp_count(F.col("_lc"), F.lit(stopword_pat(lang))).cast("int"),
        )
    scores = {lang: F.col("score_" + lang) for lang in LANG_ORDER}
    best = F.greatest(*scores.values())
    pred = F.lit("und")
    for lang in reversed(LANG_ORDER):  # build when-chain in priority order
        pred = F.when(scores[lang] == best, F.lit(lang)).otherwise(pred)
    pred = F.when(best == 0, F.lit("und")).otherwise(pred)
    return out.withColumn("pred_lang", pred).drop("_lc")


# ---------------------------------------------------------------------------
# deterministic hash sampling — the scale-correct alternative to rand():
# membership is a pure function of (doc_id, salt), so the sample is stable
# across retries/resumes/engines (rand() resamples per task attempt and can
# never be oracle-verified). Standard trick for train/val splits and
# stratified corpus downsampling at 10^12 rows.
# ---------------------------------------------------------------------------

SAMPLE_SALT = "lmsample-v1"


def hash_sample(df: DataFrame, fraction: float, salt: str = SAMPLE_SALT,
                key_col: str = "doc_id") -> DataFrame:
    """Keep rows where the first 8 md5 hex digits of 'salt:key' fall below
    fraction * 2^32 — uniform, deterministic, engine-portable (md5 is the
    same everywhere; Spark conv == DuckDB '0x' cast)."""
    cutoff = int(fraction * (1 << 32))
    h = F.expr(
        f"cast(conv(substr(md5(concat('{salt}', ':', cast({key_col} as string))),1,8),16,10) as bigint)"
    )
    return df.filter(h < cutoff)


def sampled_lang_counts(docs: DataFrame, fraction: float = 0.1) -> DataFrame:
    """Per-language doc counts over a deterministic hash sample — the
    stratification sanity-check a corpus pipeline runs before training."""
    return (
        hash_sample(docs, fraction)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_sampled"),
            F.sum("n_chars").alias("sum_chars"),
        )
    )


DEFAULT_SHARD_BUDGET = 2048  # tokens per training shard
PACK_BUCKET = 4096  # docs per prefix-sum bucket (see pack_shards)


MAX_PACK_BUCKETS = 1_000_000  # driver-prefix bound: #buckets of LONGS


def _doc_id_bucket(df: DataFrame, bucket: int | None, op: str) -> Column:
    """The doc_id-order bucket column of pack_shards/pack_sequences:
    floor(doc_id / bucket). bucket=None auto-scales from max(doc_id) (a
    column-pruned, shuffle-free pre-aggregate that never tokenizes) to
    max(PACK_BUCKET, ceil(ids/MAX_PACK_BUCKETS)); an explicit bucket is
    honored but warns when it would blow that driver-prefix bound."""
    max_id = df.select(F.max("doc_id").alias("m")).first()["m"] or 0
    if bucket is None:
        bucket = max(PACK_BUCKET, -((max_id + 1) // -MAX_PACK_BUCKETS))
    elif (max_id + 1) / bucket > 2 * MAX_PACK_BUCKETS:
        import warnings

        warnings.warn(
            f"{op}: bucket={bucket} yields ~{(max_id + 1) // bucket:,} "
            f"driver-side prefix rows (> {MAX_PACK_BUCKETS:,} target); raise "
            "`bucket` or pass bucket=None to auto-scale",
            stacklevel=3,
        )
    return F.floor(F.col("doc_id") / bucket).cast("long")


def _bucket_offsets(d: DataFrame, order_cols: list[str]) -> DataFrame:
    """Add `offset_tokens`, the exclusive prefix sum of `n_tokens` over the
    global (bucket, *order_cols) order — the two-level scan shared by the
    three packers. A global running sum as ONE window (no partition) would
    serialize 10^12 rows through a single task. Instead: (1) per-bucket
    token subtotals — a tiny grouped aggregate, one row per bucket — are
    prefix-summed on the driver and broadcast back as exclusive bucket
    offsets; (2) a window co-partitioned on bucket finishes the sum inside
    each bucket. `bucket` must be a prefix of the global order, and its
    count bounded (MAX_PACK_BUCKETS): the driver prefix scans one long per
    bucket."""
    subtot = d.groupBy("bucket").agg(F.sum("n_tokens").alias("s")).collect()
    acc = 0
    rows = []
    for r in sorted(subtot, key=lambda r: r["bucket"]):
        rows.append((r["bucket"], acc))
        acc += r["s"]
    offsets = F.broadcast(
        d.sparkSession.createDataFrame(rows, "bucket long, bucket_offset long")
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return d.join(offsets, "bucket").withColumn(
        "offset_tokens",
        (F.col("bucket_offset") + F.coalesce(F.sum("n_tokens").over(w), F.lit(0))).cast("long"),
    )


def pack_shards(
    df: DataFrame,
    budget_tokens: int = DEFAULT_SHARD_BUDGET,
    bucket: int | None = None,
    text_col: str = "text",
) -> DataFrame:
    """Token-budget SHARD PACKING — the sequence-packing step before
    pre-training: documents in doc_id order are assigned to consecutive
    shards of ~budget_tokens (a document never splits; shard_id =
    floor(exclusive-prefix-token-count / budget) — deterministic, replayable
    by a plain running sum in the oracle).

    The exclusive prefix is _bucket_offsets' two-level scan over doc_id
    buckets (_doc_id_bucket: auto-scaled so the driver prefix stays under
    MAX_PACK_BUCKETS rows at any corpus size; round-4 advice: the fixed
    default silently made the prefix O(#docs/4096) at the 10^12-doc
    target).

    Output: (doc_id, n_tokens, offset_tokens, shard_id) — one row per doc;
    offset_tokens is the exclusive global prefix, kept so the oracle
    comparison pins the whole scan, not just the bucketing."""
    df = _plan.widen(df)
    d = df.select(
        "doc_id",
        bpe_token_count(F.col(text_col)).alias("n_tokens"),
        _doc_id_bucket(df, bucket, "pack_shards").alias("bucket"),
    )
    return (
        _bucket_offsets(d, ["doc_id"])
        .select(
            "doc_id",
            "n_tokens",
            "offset_tokens",
            F.floor(F.col("offset_tokens") / budget_tokens).cast("int").alias("shard_id"),
        )
    )


CONTAM_SHINGLE_W = 5  # whitespace-token shingle width
CONTAM_THRESHOLD = 3  # distinct shared shingles ⇒ contaminated
CONTAM_BENCH_MOD = 41  # synthetic benchmark membership: doc_id % MOD == 0


_SHINGLE_UDFS: dict = {}


def _ws_shingles(text: Column, w: int) -> Column:
    """Distinct w-token whitespace shingles; a doc shorter than w tokens
    contributes its whole token run as one shingle. Empty shingles are
    filtered at the call sites (an empty doc must not match another empty
    doc).

    Built in a vectorized Arrow kernel (guide §4.2): the old Catalyst form —
    transform(sequence, i -> concat_ws(slice)) + array_distinct — paid ~30 µs
    of interpreted-lambda/allocation cost PER SHINGLE (2.5 s of the 2.9 s
    memorization scan at sf0.1 was shingle construction alone). Tokenization
    is byte-matched to split(trim(text), '\\s+') (space-only trim, the
    6-ASCII-char Java \\s class, kept empty tokens — same contract the
    repetition kernel pins); ' '.join over token slices is the same string
    concat_ws builds, and first-occurrence dedup equals array_distinct.
    Only the call sites' COUNTS reach any query output, so string-identical
    shingle sets give identical results."""
    if w not in _SHINGLE_UDFS:

        def _make(width: int):
            @F.pandas_udf("array<string>")
            def _sh(texts: pandas.Series) -> pandas.Series:
                import re

                split = re.compile(r"[ \t\n\x0b\x0c\r]+").split
                out = []
                for s in texts:
                    if s is None:
                        out.append([""])  # concat_ws over a null array → ""
                        continue
                    toks = split(s.strip(" "))
                    if len(toks) >= width:
                        out.append(
                            list(
                                dict.fromkeys(
                                    " ".join(toks[i : i + width])
                                    for i in range(len(toks) - width + 1)
                                )
                            )
                        )
                    else:
                        out.append([" ".join(toks)])
                return pandas.Series(out)

            return _sh

        _SHINGLE_UDFS[w] = _make(w)
    return _SHINGLE_UDFS[w](text)


def decontaminate(
    df: DataFrame,
    bench_mod: int = CONTAM_BENCH_MOD,
    w: int = CONTAM_SHINGLE_W,
    threshold: int = CONTAM_THRESHOLD,
    text_col: str = "text",
) -> DataFrame:
    """Benchmark DECONTAMINATION — flag training documents that overlap an
    evaluation set: a candidate is contaminated when it shares >= threshold
    DISTINCT w-token shingles with ANY benchmark document (the standard
    n-gram-overlap test-set leakage check). The synthetic benchmark split is
    doc_id % bench_mod == 0 (deterministic, oracle-replayable); a real
    deployment passes its benchmark table instead.

    Scale shape: the benchmark shingle set is tiny by nature (eval sets are
    thousands of docs, not billions) — broadcast to an equality join against
    the exploded candidate shingles; never a cross product. At real scale
    the join key would be a 16-byte shingle hash; the raw string is kept
    here so DuckDB replays byte-for-byte.

    Output: one row per NON-benchmark document —
    (doc_id, n_hit_shingles, contaminated)."""
    df = _plan.widen(df)
    is_bench = F.col("doc_id") % bench_mod == 0
    sh = df.select("doc_id", F.explode(_ws_shingles(F.col(text_col), w)).alias("s")).filter(
        F.col("s") != ""
    )
    bench_sh = sh.filter(is_bench).select("s").distinct()
    cand_sh = sh.filter(~is_bench)
    hits = (
        cand_sh.join(F.broadcast(bench_sh), "s")
        .groupBy("doc_id")
        .agg(F.countDistinct("s").alias("n_hit_shingles"))
    )
    cands = df.filter(~is_bench).select("doc_id")
    return (
        cands.join(hits, "doc_id", "left")
        .withColumn("n_hit_shingles", F.coalesce(F.col("n_hit_shingles"), F.lit(0)).cast("int"))
        .withColumn("contaminated", F.col("n_hit_shingles") >= threshold)
    )


# ---------------------------------------------------------------------------
# repetition filtering — the Gopher/MassiveText-style intra-document
# repetition signals (duplicate word / n-gram fractions, top-word share)
# used to drop degenerate boilerplate before pre-training. Still a pure
# per-row map with NO shuffle at any corpus size; the tokenize/count core is
# one vectorized Arrow kernel (the old all-Catalyst form folded interpreted
# lambdas per token — see with_repetition's docstring for the measured 6×),
# returning exact integers so every float stays in Catalyst. Long documents
# are capped at MAX_REP_TOKENS tokens (the signals saturate long before
# that; the cap bounds the per-row O(tokens) set/multiplicity pass).
# ---------------------------------------------------------------------------

MAX_REP_TOKENS = 10_000
# keep thresholds (documented contract of rep_keep; tuned to split the
# synthetic corpus non-trivially, same spirit as Gopher's table A1 rules)
REP_MAX_DUP_WORD_FRAC = 0.60
REP_MAX_DUP_2GRAM_FRAC = 0.10
REP_MAX_TOP_WORD_FRAC = 0.12


# Java-regex \s is the 6 ASCII whitespace chars (no Unicode classes without
# the flag); the explicit class below makes Python's re split byte-identical
# to Spark's split(trim(text), '\\s+') — incl. the leading/trailing EMPTY
# tokens Java keeps when the (space-only-)trimmed text starts/ends with a
# tab/newline (pinned empirically + by test_extras.test_repetition_counts...)
_REP_WS_RX = None  # compiled lazily on the executor (regex not serializable)


def _rep_counts_kernel(texts):
    """Vectorized repetition-counting core: EXACT integer counts per doc —
    (n words, distinct words, n/distinct 2-grams, n/distinct 3-grams, max
    word multiplicity) over the first MAX_REP_TOKENS tokens. All float math
    (fractions, rounding) stays in Catalyst so the cross-engine float
    contract is untouched; integers cannot drift."""
    import re

    from collections import Counter

    global _REP_WS_RX
    if _REP_WS_RX is None:
        _REP_WS_RX = re.compile(r"[ \t\n\x0b\x0c\r]+")
    split = _REP_WS_RX.split
    rows = []
    for s in texts:
        t = s.strip(" ") if s is not None else ""
        if t == "":
            rows.append((0, 0, 0, 0, 0, 0, 0))
            continue
        toks = split(t)
        if len(toks) > MAX_REP_TOKENS:
            toks = toks[:MAX_REP_TOKENS]
        nw = len(toks)
        cnt = Counter(toks)
        dw = len(cnt)
        top = max(cnt.values())
        if nw >= 2:
            n2, d2 = nw - 1, len(set(zip(toks, toks[1:])))
        else:
            n2 = d2 = 0
        if nw >= 3:
            n3, d3 = nw - 2, len(set(zip(toks, toks[1:], toks[2:])))
        else:
            n3 = d3 = 0
        rows.append((nw, dw, n2, d2, n3, d3, top))
    return rows


def _make_rep_counts_udf():
    @F.pandas_udf("struct<nw:int,dw:int,n2:int,d2:int,n3:int,d3:int,top:int>")
    def _rep_counts(texts: pandas.Series) -> pandas.DataFrame:
        out = pandas.DataFrame(
            _rep_counts_kernel(texts),
            columns=["nw", "dw", "n2", "d2", "n3", "d3", "top"],
        )
        return out.astype("int32")

    return _rep_counts


_REP_COUNTS_UDF = None


def _ngrams(words: Column, n: int) -> Column:
    """Overlapping word n-grams (n >= 2); empty when the doc is shorter."""
    return F.when(
        F.size(words) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(words) - n),
            lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def with_repetition(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Repetition signals per document:
      dup_word_frac   1 - distinct/total words (0 for empty docs)
      dup_2gram_frac  1 - distinct/total overlapping 2-grams
      dup_3gram_frac  same for 3-grams
      top_word_frac   most frequent word's share of all words
      rep_keep        all signals under the documented thresholds
    All fractions rounded to 6 dp (same cross-engine contract as
    with_quality).

    The counting core (tokenize → distinct/ngram/multiplicity COUNTS) runs
    in one vectorized Arrow batch kernel (guide §4.2: hand whole batches to
    native-speed code instead of interpreted per-element lambdas): the old
    all-Catalyst form built three per-row string arrays and folded a
    struct-state lambda per token — measured ~9 s for 50k rendered
    conversations at sf0.1 where the kernel form reads ~1.5 s, value-
    identical (tokenization byte-matched to split(trim(text), '\\s+'),
    pinned by test_extras + the oracle gate). Only exact INTEGERS cross the
    boundary back; every float op (1 - distinct/total, top/total, 6-dp
    round) stays in Catalyst, so the cross-engine float contract is
    untouched. Scale shape unchanged: still a pure per-row map, no shuffle."""
    df = _plan.widen(df)
    global _REP_COUNTS_UDF
    if _REP_COUNTS_UDF is None:
        _REP_COUNTS_UDF = _make_rep_counts_udf()
    c = F.col("_rc")

    def dup_frac(dist: Column, n: Column) -> Column:
        return F.round(
            F.when(n > 0, 1.0 - dist / n.cast("double")).otherwise(F.lit(0.0)), 6
        )

    top = F.when(c["nw"] > 0, c["top"].cast("double") / c["nw"]).otherwise(F.lit(0.0))
    out = (
        df.withColumn("_rc", _REP_COUNTS_UDF(F.col(text_col)))
        .withColumn("dup_word_frac", dup_frac(c["dw"], c["nw"]))
        .withColumn("dup_2gram_frac", dup_frac(c["d2"], c["n2"]))
        .withColumn("dup_3gram_frac", dup_frac(c["d3"], c["n3"]))
        .withColumn("top_word_frac", F.round(top, 6))
        .drop("_rc")
    )
    return out.withColumn(
        "rep_keep",
        (F.col("dup_word_frac") <= REP_MAX_DUP_WORD_FRAC)
        & (F.col("dup_2gram_frac") <= REP_MAX_DUP_2GRAM_FRAC)
        & (F.col("top_word_frac") <= REP_MAX_TOP_WORD_FRAC),
    )


# ---------------------------------------------------------------------------
# PII redaction — the standard scrub pass (emails, IPv4s, phone numbers)
# before corpus release. Pure regexp projections, zero shuffle. The regexes
# are RE2-safe (no lookaround) so java.util.regex (Spark) and RE2 (DuckDB)
# agree byte-for-byte. The synthetic documents carry no PII, so the driver
# query runs over a deterministically AUGMENTED table (augment_pii — both
# engines construct it identically, the same convention as dedup's
# augmented_docs) and the redaction is verified on real hits.
# ---------------------------------------------------------------------------

EMAIL_RX = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RX = r"\b(?:\d{1,3}\.){3}\d{1,3}\b"
PHONE_RX = r"\b\d{3}-\d{3}-\d{4}\b"
PII_EMAIL_MOD = 3  # doc_id % 3 == 0 -> email appended
PII_IP_MOD = 5
PII_PHONE_MOD = 7


def augment_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic PII augmentation for verification: appends an email /
    IPv4 / phone derived from doc_id to a subset of docs (mods above; a doc
    can get several)."""
    d, t = F.col("doc_id"), F.col(text_col)
    email = F.when(
        d % PII_EMAIL_MOD == 0,
        F.concat(F.lit(" contact user"), d, F.lit("@example"), d % 7, F.lit(".com")),
    ).otherwise(F.lit(""))
    ip = F.when(
        d % PII_IP_MOD == 0,
        F.concat(F.lit(" from 10."), d % 256, F.lit("."), d % 100, F.lit("."), d % 50),
    ).otherwise(F.lit(""))
    phone = F.when(
        d % PII_PHONE_MOD == 0,
        F.concat(F.lit(" call 555-"), 100 + d % 900, F.lit("-"), 1000 + d % 9000),
    ).otherwise(F.lit(""))
    return df.withColumn(text_col, F.concat(t, email, ip, phone))


def redact_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Count and redact PII spans: emails -> <EMAIL>, IPv4s -> <IP>, phones
    -> <PHONE> (replace order matters and is part of the contract: emails
    first so an address's host part can never be half-matched as an IP)."""
    df = _plan.widen(df)
    t = F.col(text_col)
    n_emails = F.regexp_count(t, F.lit(EMAIL_RX)).cast("int")
    red = F.regexp_replace(t, EMAIL_RX, "<EMAIL>")
    n_ips = F.regexp_count(red, F.lit(IPV4_RX)).cast("int")
    red = F.regexp_replace(red, IPV4_RX, "<IP>")
    n_phones = F.regexp_count(red, F.lit(PHONE_RX)).cast("int")
    red = F.regexp_replace(red, PHONE_RX, "<PHONE>")
    return df.select(
        "doc_id",
        n_emails.alias("n_emails"),
        n_ips.alias("n_ips"),
        n_phones.alias("n_phones"),
        red.alias("redacted_text"),
    )


# ---------------------------------------------------------------------------
# corpus mixture rebalancing — deterministic stratified downsampling to a
# target source/language mixture (the "data mixing" step of an LLM corpus
# pipeline, e.g. The Pile / DoReMi-style static weights). Given target
# shares p_s per stratum and observed counts n_s, the largest corpus
# achievable WITHOUT upsampling while hitting the mixture is
# T = min_s(n_s / p_s); each stratum is then hash-sampled at
# frac_s = T * p_s / n_s (the binding stratum keeps everything). Membership
# is a pure function of (doc_id, salt) — same engine-portable md5 cutoff as
# hash_sample, so the exact kept set is replayable by the SQL oracle and is
# stable across retries/resumes. Scale shape: one tiny per-stratum count
# agg (#strata rows), the 1-row min broadcast back, and a broadcast join of
# the #strata fraction table onto the scan — the corpus itself is touched
# by exactly one filter pass, no wide shuffle.
# All float steps are single IEEE-754 ops written in the same order on both
# engines, so the double `frac_s` is bit-identical in Spark and DuckDB.
# ---------------------------------------------------------------------------

MIX_SALT = "lmmix-v1"
DEFAULT_MIX_WEIGHTS = {"en": 0.5, "zh": 0.2, "de": 0.1, "es": 0.1, "fr": 0.1}


def mixture_sample(
    df: DataFrame,
    weights: dict[str, float] | None = None,
    stratum_col: str = "lang",
    salt: str = MIX_SALT,
    key_col: str = "doc_id",
) -> DataFrame:
    """Rows kept by the target mixture: (key_col, stratum_col). Strata
    absent from `weights` (share 0) are dropped entirely — a mixture that
    doesn't name a source excludes it."""
    weights = DEFAULT_MIX_WEIGHTS if weights is None else weights

    p_s = None
    for k, v in sorted(weights.items()):
        cond = F.col(stratum_col) == F.lit(k)
        p_s = F.when(cond, F.lit(float(v))) if p_s is None else p_s.when(cond, F.lit(float(v)))
    p_s = p_s.otherwise(F.lit(0.0))

    counts = (
        df.groupBy(stratum_col)
        .agg(F.count("*").alias("n_s"))
        .withColumn("p_s", p_s)
        .filter(F.col("p_s") > 0)
    )
    t_min = counts.agg(F.min(F.col("n_s") / F.col("p_s")).alias("t_min"))
    fracs = counts.crossJoin(F.broadcast(t_min)).select(
        stratum_col,
        ((F.col("t_min") * F.col("p_s")) / F.col("n_s")).alias("frac"),
    )
    h = F.expr(
        f"cast(conv(substr(md5(concat('{salt}', ':', cast({key_col} as string))),1,8),16,10) as bigint)"
    )
    return (
        df.join(F.broadcast(fracs), stratum_col)
        .filter(h.cast("double") < F.col("frac") * F.lit(4294967296.0))
        .select(key_col, stratum_col)
    )

# ---------------------------------------------------------------------------
# frequent-line boilerplate removal — the CCNet / RefinedWeb line-dedup pass:
# a line of text that recurs across many DISTINCT documents is navigation /
# footer / cookie-banner boilerplate, not content, and is dropped from every
# document it appears in. Scale shape: one posexplode (linear, no shuffle),
# one grouped count on a 16-byte line digest (map-side combined), and the
# frequent set — tiny by construction, boilerplate is the point — broadcast
# back as a hash anti-join; documents are reassembled with a single
# groupBy(doc_id). No window, no self-join on the line stream.
# The synthetic documents are single-line, so the driver query runs over a
# deterministically AUGMENTED table (augment_lines — both engines construct
# it identically, the same convention as augment_pii / dedup's
# augmented_docs) so the removal is verified on real recurring lines.
# ---------------------------------------------------------------------------

LINE_MIN_DOCS = 30  # a line in >= this many distinct docs is boilerplate

BOILER_NAV = "home about contact privacy terms"
BOILER_NEWS = "subscribe to our newsletter for updates"
BOILER_COOKIE = "this site uses cookies to improve your experience"
LINE_NAV_MOD = 2  # doc_id % 2 == 0 -> nav line prepended
LINE_NEWS_MOD = 3
LINE_COOKIE_MOD = 5


def augment_lines(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic line-structure augmentation for verification: wraps the
    (single-line) synthetic text with shared boilerplate lines on a doc_id
    grid, newline-joined. A rare content line ("ref <doc_id>") is appended to
    every doc so each doc keeps at least one never-frequent line."""
    d, t = F.col("doc_id"), F.col(text_col)
    nav = F.when(d % LINE_NAV_MOD == 0, F.lit(BOILER_NAV)).otherwise(F.lit(None))
    news = F.when(d % LINE_NEWS_MOD == 0, F.lit(BOILER_NEWS)).otherwise(F.lit(None))
    cookie = F.when(d % LINE_COOKIE_MOD == 0, F.lit(BOILER_COOKIE)).otherwise(F.lit(None))
    ref = F.concat(F.lit("ref "), d.cast("string"))
    return df.withColumn(text_col, F.concat_ws("\n", nav, t, news, cookie, ref))


def remove_frequent_lines(
    df: DataFrame, min_docs: int = LINE_MIN_DOCS, text_col: str = "text"
) -> DataFrame:
    """Strip every line that occurs in >= min_docs distinct documents.

    Output one row per input document:
      n_lines          lines before the pass
      n_lines_removed  boilerplate lines dropped
      clean_text       surviving lines, original order, newline-joined
                       ('' when everything was boilerplate)
    Lines are keyed by md5 digest so the count shuffle moves 16 bytes per
    line instead of the line text."""
    df = _plan.widen(df)
    lines = df.select(
        "doc_id", F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line")
    ).withColumn("lk", F.md5(F.col("line")))
    frequent = (
        lines.groupBy("lk")
        .agg(F.count_distinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("lk")
    )
    kept = lines.join(F.broadcast(frequent), "lk", "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.count("*").alias("n_kept"),
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))), lambda s: s.line
            ),
        ).alias("clean_text"),
    )
    # per-doc line totals come straight off the base table (size of the
    # split, no explode) so the corpus is exploded exactly twice — frequent-
    # set build and anti-join probe — the two-pass minimum for this op
    totals = df.select(
        "doc_id", F.size(F.split(F.col(text_col), "\n")).alias("n_lines")
    )
    return (
        totals.join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_lines").cast("int").alias("n_lines"),
            (F.col("n_lines") - F.coalesce(F.col("n_kept"), F.lit(0)))
            .cast("int")
            .alias("n_lines_removed"),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        )
    )


# ---------------------------------------------------------------------------
# corpus unigram LM scoring — the cheap perplexity proxy (CCNet scores with a
# 5-gram KenLM; the unigram version is the same pipeline shape): pass 1
# builds the corpus token-frequency table, caps it to the top-K vocabulary,
# and derives add-one-smoothed log probabilities; pass 2 scores every
# document by its mean token log-prob and OOV fraction. Scale shape: the
# vocab build is one map-side-combined token count plus a distributed
# TakeOrdered top-K (never a single-partition window); corpus totals are a
# 1-row aggregate broadcast via crossJoin; scoring is a broadcast hash join
# of the K-row vocab onto the exploded token stream, re-aggregated per doc
# with partial aggregation (the shuffle carries ~one row per doc per
# partition, not one per token).
# ---------------------------------------------------------------------------

UNIGRAM_VOCAB_K = 10_000  # vocab cap; broadcast side stays K rows


def _top_k(counts: DataFrame, k: int, tok: str = "tok", c: str = "c") -> DataFrame:
    """The k most frequent rows of a (token, count) table, count descending
    then token ascending, so the vocabulary is deterministic — a distributed
    TakeOrdered, never a global sort of the full vocabulary. Every top-K
    vocabulary in this module (the LM scorers, vocab_topk, zipf_fit) takes
    its rows from here."""
    return counts.orderBy(F.col(c).desc(), F.col(tok)).limit(k)


def unigram_logprob(
    df: DataFrame, vocab_k: int = UNIGRAM_VOCAB_K, text_col: str = "text"
) -> DataFrame:
    """Per-document mean unigram log-probability under the corpus's own
    add-one-smoothed top-K unigram LM.

    p(w) = (c_w + 1) / (N + V + 1) for vocab words, 1 / (N + V + 1) for OOV
    (N = total tokens in the corpus, V = distinct tokens BEFORE the top-K
    cap, so the cap changes which words score as OOV but not the smoothing
    mass). Tokens are lowercased whitespace words. Top-K ties break on
    (count desc, token asc) so the vocabulary is deterministic.

    Output per doc: n_tokens, n_oov, avg_logprob (natural log, 6 dp; NULL
    for empty docs). Empty documents survive with n_tokens = 0."""
    df = _plan.widen(df)
    toks = df.select("doc_id", F.explode_outer(ws_words(F.lower(F.col(text_col)))).alias("tok"))

    # The count table is vocab-sized (small); persist it so totals and the
    # top-K don't each re-tokenize the corpus, then pin the two tiny derived
    # frames and release the cache. Net corpus cost: exactly two
    # tokenization passes — vocabulary build and scoring.
    counts = (
        toks.filter(F.col("tok").isNotNull())
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
        .persist()
    )
    totals = counts.agg(
        F.sum("c").alias("n_total"), F.count("*").alias("v_total")
    )
    vocab = _plan.pin(
        _top_k(counts, vocab_k)
        .crossJoin(F.broadcast(totals))
        .select(
            "tok",
            F.round(
                F.log((F.col("c") + 1) / (F.col("n_total") + F.col("v_total") + 1)), 12
            ).alias("logp"),
        )
    )
    oov_logp = _plan.pin(
        totals.select(
            F.round(F.log(1.0 / (F.col("n_total") + F.col("v_total") + 1)), 12).alias(
                "oov_logp"
            )
        ),
        counts,
    )
    scored = (
        toks.join(F.broadcast(vocab), "tok", "left")
        .crossJoin(F.broadcast(oov_logp))
        .groupBy("doc_id")
        .agg(
            F.count("tok").alias("n_tokens"),
            F.sum(
                F.when(F.col("tok").isNotNull() & F.col("logp").isNull(), 1).otherwise(0)
            ).alias("n_oov"),
            F.avg(
                F.when(
                    F.col("tok").isNotNull(), F.coalesce(F.col("logp"), F.col("oov_logp"))
                )
            ).alias("_alp"),
        )
    )
    return scored.select(
        "doc_id",
        F.col("n_tokens").cast("int").alias("n_tokens"),
        F.col("n_oov").cast("int").alias("n_oov"),
        F.round(F.col("_alp"), 6).alias("avg_logprob"),
    )

# ---------------------------------------------------------------------------
# train/val/test split — deterministic disjoint assignment from the same
# md5(salt:doc_id) hash as hash_sample: one pure projection, zero shuffle,
# stable across retries/resumes/engines, and the three sets are disjoint and
# exhaustive by construction (cutoff intervals partition [0, 2^32)).
# ---------------------------------------------------------------------------

SPLIT_SALT = "lmsplit-v1"
DEFAULT_SPLIT_WEIGHTS = (0.98, 0.01, 0.01)  # train, val, test


def corpus_split(
    df: DataFrame,
    weights: tuple[float, float, float] = DEFAULT_SPLIT_WEIGHTS,
    salt: str = SPLIT_SALT,
    key_col: str = "doc_id",
) -> DataFrame:
    """Assign each row to 'train' / 'val' / 'test' by hash cutoff. The two
    cutoffs are integers, so membership is an exact integer comparison (no
    float boundary ambiguity between engines)."""
    w_train, w_val, w_test = weights
    if abs(w_train + w_val + w_test - 1.0) > 1e-9:
        raise ValueError(f"split weights must sum to 1, got {weights}")
    cut1 = int(w_train * (1 << 32))
    cut2 = int((w_train + w_val) * (1 << 32))
    h = F.expr(
        f"cast(conv(substr(md5(concat('{salt}', ':', cast({key_col} as string))),1,8),16,10) as bigint)"
    )
    return df.withColumn(
        "split",
        F.when(h < cut1, F.lit("train")).when(h < cut2, F.lit("val")).otherwise(F.lit("test")),
    ).select(key_col, "split")


def corpus_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per (lang, source) corpus report card: doc count, total chars,
    total whitespace tokens, exact interpolated p50/p95 char lengths and
    mean tokens-per-doc (6 dp). One grouped aggregate over #strata groups.
    Same exact-`percentile` contract as aggregate.router_rollup (the
    production path at 10^12 rows would swap in approx_percentile; the
    exact version is what a SQL oracle can replay value-for-value)."""
    df = _plan.widen(df)
    t = F.col(text_col)
    return (
        df.withColumn("_nt", ws_token_count(t))
        .groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.length(t)).alias("total_chars"),
            F.sum("_nt").alias("total_ws_tokens"),
            F.round(F.expr(f"percentile(length({text_col}), 0.5)"), 6).alias("p50_chars"),
            F.round(F.expr(f"percentile(length({text_col}), 0.95)"), 6).alias("p95_chars"),
            F.round(F.avg("_nt"), 6).alias("avg_ws_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# shuffled shard packing — the "global shuffle then pack" step before
# pre-training: documents are packed in a deterministic PSEUDORANDOM order
# (md5(salt:doc_id), doc_id) instead of doc_id order, so consecutive
# training shards mix the corpus. Same _bucket_offsets prefix sum as
# pack_shards — the bucket key is the TOP BITS of the shuffle hash, which is
# a prefix of the global shuffle order, so the two-level scan reproduces the
# exact global running sum without a single-task sort. Bucket count auto-scales
# (power of two) so both the driver prefix and the per-bucket window stay
# bounded at any corpus size.
# ---------------------------------------------------------------------------

SHUFFLE_SALT = "lmshuffle-v1"


def pack_shards_shuffled(
    df: DataFrame,
    budget_tokens: int = DEFAULT_SHARD_BUDGET,
    salt: str = SHUFFLE_SALT,
    text_col: str = "text",
) -> DataFrame:
    """Token-budget packing in deterministic shuffled order.

    Output: (doc_id, n_tokens, shuffle_key, offset_tokens, shard_id) — one
    row per doc; offset_tokens is the exclusive prefix of n_tokens over the
    global (shuffle_key, doc_id) order, shard_id = floor(offset / budget).
    The oracle replays the naive global cumsum over the same order.

    The narrow tokenized projection (doc_id + 2 longs per doc) is persisted
    and counted ONCE: the count, the per-bucket subtotals and the final
    window all ride that cache. Without it the upstream plan — which for
    conversation packs is a full render of every conversation — was
    recomputed three times (count, subtotal collect, final scan): measured
    3× the upstream cost at sf0.1 for zero benefit."""
    df = _plan.widen(df)
    h = F.expr(
        f"cast(conv(substr(md5(concat('{salt}', ':', cast(doc_id as string))),1,8),16,10) as bigint)"
    )
    d0 = (
        df.select("doc_id", bpe_token_count(F.col(text_col)).alias("n_tokens"))
        .withColumn("shuffle_key", h)
        .persist()
    )
    n_docs = d0.count()  # materializes the cache (upstream computed once)
    bits = 12  # 4096 buckets at test scale ...
    while (1 << bits) * PACK_BUCKET < n_docs and (1 << bits) < MAX_PACK_BUCKETS:
        bits += 1  # ... growing so ~PACK_BUCKET docs/bucket, capped at 2^20
    d = d0.withColumn("bucket", F.shiftrightunsigned(F.col("shuffle_key"), 32 - bits))
    out = (
        _bucket_offsets(d, ["shuffle_key", "doc_id"])
        .select(
            "doc_id",
            "n_tokens",
            "shuffle_key",
            "offset_tokens",
            F.floor(F.col("offset_tokens") / budget_tokens).cast("long").alias("shard_id"),
        )
    )
    return _plan.pin(out, d0)


# ---------------------------------------------------------------------------
# sequence packing, materialized — the step after pack_shards: each shard's
# documents are concatenated (EOS-separated, doc_id order) into the actual
# training sequence. Same _bucket_offsets prefix sum as pack_shards, but the text
# column RIDES THROUGH the bucket window instead of being re-joined on
# doc_id afterwards — the subtotal branch only aggregates n_tokens, so
# Catalyst prunes text out of it, and the full text bytes move exactly
# twice: once in the bucket-window shuffle, once in the shard_id groupBy.
# The collect_list per shard is bounded by construction (a shard holds at
# most budget_tokens plus one overflowing document — documents never split),
# so the grouped state can never blow an executor no matter the corpus size.
# ---------------------------------------------------------------------------

EOS_SEP = "<|endoftext|>"


def pack_sequences(
    df: DataFrame,
    budget_tokens: int = DEFAULT_SHARD_BUDGET,
    bucket: int | None = None,
    text_col: str = "text",
    sep: str = EOS_SEP,
) -> DataFrame:
    """Materialized training shards: (shard_id, n_docs, shard_tokens,
    first_doc_id, packed_text) where packed_text is the shard's documents
    joined by `sep` in doc_id order. Token accounting matches pack_shards
    exactly (the separator is not counted; a production tokenizer counts its
    EOS as one token per doc — add n_docs if needed)."""
    df = _plan.widen(df)
    d = df.select(
        "doc_id",
        F.col(text_col).alias("_txt"),
        bpe_token_count(F.col(text_col)).alias("n_tokens"),
        _doc_id_bucket(df, bucket, "pack_sequences").alias("bucket"),
    )
    offs = _bucket_offsets(d, ["doc_id"]).withColumn(
        "shard_id", F.floor(F.col("offset_tokens") / budget_tokens).cast("long")
    )
    docs_struct = F.array_sort(F.collect_list(F.struct("doc_id", "_txt")))
    return offs.groupBy("shard_id").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("shard_tokens"),
        F.min("doc_id").alias("first_doc_id"),
        F.array_join(
            F.transform(docs_struct, lambda s: s["_txt"]), sep
        ).alias("packed_text"),
    )


# ---------------------------------------------------------------------------
# exact stratified take — exactly min(k, n) documents per (lang, source)
# stratum in deterministic hash order (the "balanced eval slice" /
# "per-domain spot-check" primitive). The naive plan — row_number() over
# every stratum — sorts whole strata: with 10^12 rows over ~10^2 strata
# that is a 10^10-row sort per window partition. Instead: (1) a tiny
# grouped count (#strata rows) drives a per-stratum hash CUTOFF of
# ~safety*k expected survivors, broadcast back as a filter, so the window
# only ever sorts ~safety*k rows per stratum; (2) the result is VERIFIED
# exact (selected == min(k, n) per stratum) and the cutoff escalates —
# geometrically, to the full keyspace in the limit — on the astronomically
# rare shortfall. Deterministic at every step, so the escalation loop
# always converges to exactly the naive answer.
# ---------------------------------------------------------------------------

STRAT_SALT = "lmstrat-v1"
STRAT_TAKE_K = 3  # gate-scale default; production callers pass their own k
STRAT_SAFETY = 8  # initial oversampling factor for the cutoff pre-filter


def take_per_stratum(
    df: DataFrame,
    k: int = STRAT_TAKE_K,
    strata: tuple[str, ...] = ("lang", "source"),
    salt: str = STRAT_SALT,
    key_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, *strata, rn): the min(k, n) hash-smallest docs per stratum,
    rn = 1-based rank within the stratum by (hash, doc_id)."""
    df = _plan.widen(df)
    h = F.expr(
        f"cast(conv(substr(md5(concat('{salt}', ':', cast({key_col} as string))),1,8),16,10) as bigint)"
    )
    # NULL stratum values are excluded by contract: the cutoff frame joins
    # on the strata key and SQL null-equality would silently drop those rows
    # from `sel` while their group stayed in `counts` — the verify loop
    # would then escalate forever chasing rows the join can never return.
    d = df.select(key_col, *strata).na.drop(subset=list(strata)).withColumn("_h", h)
    counts = {tuple(r[s] for s in strata): r["n"] for r in d.groupBy(*strata).agg(F.count("*").alias("n")).collect()}
    spark = df.sparkSession
    w = Window.partitionBy(*strata).orderBy("_h", key_col)
    safety = STRAT_SAFETY
    while True:
        full = 1 << 32
        rows = [
            (*g, full if n <= k else min(full, -((full * k * safety) // -n)))
            for g, n in counts.items()
        ]
        schema = ", ".join(f"{s} string" for s in strata) + ", _cut long"
        cuts = F.broadcast(spark.createDataFrame(rows, schema))
        sel = (
            d.join(cuts, list(strata))
            .filter(F.col("_h") < F.col("_cut"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k)
            .select(key_col, *strata, F.col("rn").cast("int").alias("rn"))
        )
        got = {
            tuple(r[s] for s in strata): r["n"]
            for r in sel.groupBy(*strata).agg(F.count("*").alias("n")).collect()
        }
        if all(got.get(g, 0) == min(k, n) for g, n in counts.items()):
            return sel
        safety = max(safety, 1) * 8


# ---------------------------------------------------------------------------
# sliding-window chunking — context-window preparation: each document is
# split into overlapping token-window chunks (length CHUNK_LEN, stride
# CHUNK_STRIDE). Pure per-row projection + explode: no shuffle anywhere,
# output size ~n_tokens/stride rows per doc, trivially partition-parallel
# at any corpus size. Tokens are whitespace words (the BPE-ish regex
# tokenizer counts but cannot re-join losslessly); empty docs yield zero
# chunks.
# ---------------------------------------------------------------------------

CHUNK_LEN = 64  # gate-scale window; production ~2048
CHUNK_STRIDE = 48  # overlap = CHUNK_LEN - CHUNK_STRIDE


def chunk_sliding(
    df: DataFrame,
    chunk_len: int = CHUNK_LEN,
    stride: int = CHUNK_STRIDE,
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, chunk_idx, n_chunk_tokens, chunk_text): chunk i covers
    tokens [i*stride, i*stride + chunk_len); the last chunk starts at the
    smallest multiple of stride reaching the tail (so every token is in
    ≥1 chunk and no chunk is a suffix-duplicate of the previous)."""
    df = _plan.widen(df)
    if stride <= 0 or chunk_len < stride:
        raise ValueError(f"need 0 < stride <= chunk_len, got {stride}, {chunk_len}")
    d = df.select("doc_id", ws_words(F.col(text_col)).alias("_ts")).withColumn("_n", F.size("_ts"))
    n = F.col("_n")
    n_chunks = (
        F.when(n == 0, F.lit(0))
        .when(n <= chunk_len, F.lit(1))
        .otherwise(F.floor((n - chunk_len + stride - 1) / stride).cast("int") + 1)
    )
    d = d.withColumn("_nc", n_chunks).filter(F.col("_nc") > 0)
    d = d.select(
        "doc_id",
        "_ts",
        "_n",
        F.posexplode(F.sequence(F.lit(0), F.col("_nc") - 1)).alias("chunk_idx", "_start0"),
    ).withColumn("_start", F.col("chunk_idx") * stride)
    return d.select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.least(F.lit(chunk_len), F.col("_n") - F.col("_start")).cast("int").alias("n_chunk_tokens"),
        F.array_join(F.slice(F.col("_ts"), F.col("_start") + 1, F.lit(chunk_len)), " ").alias("chunk_text"),
    )


# ---------------------------------------------------------------------------
# bigram LM scoring — the next rung above unigram_logprob on the CCNet
# perplexity-filter ladder: per-doc mean conditional log-probability
# p(w_i | w_{i-1}) under the corpus's own add-one-smoothed bigram model
# over a top-K vocabulary (OOV tokens collapse to <unk> BEFORE counting,
# the standard construction, so the model is closed over K+1 types; <s>
# is the sentence-start context). Three corpus passes — vocabulary,
# bigram counts, scoring — all map-side-combined aggregates / joins on
# bounded keys: the bigram table is ≤(K+1)² rows by construction (and in
# practice the observed-bigram sparsity), the context table derives from
# it for free, and scoring joins both onto the pair stream. Since the
# corpus scores ITSELF, every scored bigram exists in the count table —
# the join is total, no missing-key smoothing branch.
# ---------------------------------------------------------------------------

BIGRAM_VOCAB_K = 10_000
BOS = "<s>"
UNK = "<unk>"

# The three n-gram scorers (bigram_logprob, kn_logprob, trigram_logprob)
# share their first three steps, one helper each: the <s>-padded context
# events, the top-K vocabulary, and the broadcast <unk> collapse. Each
# scorer keeps its own counts, probability formula and output select.


def _ngram_events(df: DataFrame, text_col: str, order: int) -> DataFrame:
    """(doc_id, p{order-1}_raw, …, p1_raw, cur_raw): one row per lowercased
    whitespace token with its order-1 preceding tokens, <s>-padded at the
    document start. A document without tokens (empty or NULL text) yields
    one all-NULL row (explode_outer), dropped by _unk_collapse."""
    ks = range(order - 1, 0, -1)
    ctx = "".join(f"if(i < {k}, '{BOS}', _ts[i-{k}]) AS p{k}, " for k in ks)
    ev = F.expr(f"transform(_ts, (x, i) -> struct({ctx}x AS cur))")
    return (
        df.select("doc_id", ws_words(F.lower(F.col(text_col))).alias("_ts"))
        .select("doc_id", F.explode_outer(ev).alias("_ev"))
        .select(
            "doc_id",
            *[F.col(f"_ev.p{k}").alias(f"p{k}_raw") for k in ks],
            F.col("_ev.cur").alias("cur_raw"),
        )
    )


def _lm_vocab(ev: DataFrame, k: int) -> DataFrame:
    """The scorers' vocabulary (tok): the _top_k current tokens of an event
    frame, pinned — it is broadcast once per
    collapsed position and counted on the driver (K-bounded)."""
    counts = (
        ev.filter(F.col("cur_raw").isNotNull()).groupBy("cur_raw").agg(F.count("*").alias("c"))
    )
    top = _top_k(counts, k, "cur_raw").select(F.col("cur_raw").alias("tok"))
    return _plan.pin(top)


def _unk_collapse(ev: DataFrame, vocab: DataFrame, bos: tuple[str, ...]) -> DataFrame:
    """<unk>-collapse every `{pos}_raw` column of an event frame into `pos`
    against the broadcast vocabulary (one left join per position): NULL
    stays NULL, <s> stays <s> in the `bos` positions, an in-vocab token
    stays itself, anything else becomes <unk>. Rows without a current token
    (empty documents) are dropped."""
    positions = [c[: -len("_raw")] for c in ev.columns if c.endswith("_raw")]
    out = ev
    for pos in positions:
        vb = F.broadcast(vocab.select(F.col("tok").alias(f"{pos}_raw"), F.lit(True).alias(f"_{pos}v")))
        out = out.join(vb, f"{pos}_raw", "left")

    def mapped(pos: str) -> Column:
        raw = F.col(f"{pos}_raw")
        m = F.when(raw.isNull(), None)
        if pos in bos:
            m = m.when(raw == BOS, F.lit(BOS))
        return m.when(F.col(f"_{pos}v"), raw).otherwise(F.lit(UNK)).alias(pos)

    return out.select("doc_id", *[mapped(p) for p in positions]).filter(F.col("cur").isNotNull())


def bigram_logprob(
    df: DataFrame, vocab_k: int = BIGRAM_VOCAB_K, text_col: str = "text"
) -> DataFrame:
    """Per doc: n_tokens, n_unk (tokens outside the top-K vocab), and the
    mean ln p(w_i | w_{i-1}) with add-one smoothing over V = K_effective + 1
    types (6 dp; per-bigram logp rounded to 12 dp before the mean so libm
    ulp skew can't break the value hash; NULL for empty docs)."""
    df = _plan.widen(df)
    pairs = _ngram_events(df, text_col, 2)
    vocab = _lm_vocab(pairs, vocab_k)
    vm = vocab.count() + 1  # |vocab| + <unk>; driver-side K-bounded scalar
    m = _unk_collapse(pairs, vocab, bos=("p1",))
    bc = _plan.pin(m.groupBy("p1", "cur").agg(F.count("*").alias("cb")))
    cc = bc.groupBy("p1").agg(F.sum("cb").alias("ct"))  # derived free
    scored = (
        m.join(bc, ["p1", "cur"])  # total: the corpus scores itself
        .join(F.broadcast(cc), "p1")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("_nt"),
            F.sum(F.when(F.col("cur") == UNK, 1).otherwise(0)).alias("_nu"),
            F.avg(F.round(F.log((F.col("cb") + 1) / (F.col("ct") + vm)), 12)).alias("_alp"),
        )
    )
    return (
        df.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("_nt"), F.lit(0)).cast("int").alias("n_tokens"),
            F.coalesce(F.col("_nu"), F.lit(0)).cast("int").alias("n_unk"),
            F.round(F.col("_alp"), 6).alias("avg_logprob"),
        )
    )


# ---------------------------------------------------------------------------
# one-call curation verdict — the keep/drop decision a corpus pipeline
# actually ships: every per-doc signal this module computes (token bounds,
# quality score, repetition flags, language-ID) folded into one boolean plus
# a fixed-order machine-readable reason string. Pure composition of the
# existing native projections — still zero Python, zero shuffle; the reason
# string is built from positional CASE fragments + rtrim so both engines
# produce byte-identical values without null-skipping semantics entering
# the contract.
# ---------------------------------------------------------------------------

CURATE_MIN_QUALITY = 0.5
CURATE_MIN_TOKENS = 5
CURATE_MAX_TOKENS = 100_000


def _curate_checks() -> list:
    """The fixed-order curation rule list (name, failed-condition) over the
    signal columns — shared by corpus_curate and corpus_prepare so the rule
    set has exactly one definition."""
    return [
        ("too_short", F.col("n_ws_tokens") < CURATE_MIN_TOKENS),
        ("too_long", F.col("n_ws_tokens") > CURATE_MAX_TOKENS),
        ("low_quality", F.col("quality_score") < CURATE_MIN_QUALITY),
        ("repetitive", ~F.col("rep_keep")),
        ("unknown_lang", F.col("pred_lang") == "und"),
    ]


def _with_curate_signals(df: DataFrame, text_col: str = "text") -> DataFrame:
    return with_repetition(
        with_langid(with_quality(with_token_counts(df), text_col), text_col), text_col
    )


def corpus_curate(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, n_ws_tokens, quality_score, pred_lang, keep, reasons):
    keep = passes ALL rules; reasons = comma-joined failed-rule names in
    fixed order (too_short, too_long, low_quality, repetitive,
    unknown_lang), '' when kept."""
    d = _with_curate_signals(df, text_col)
    checks = _curate_checks()
    reasons = F.concat(*[F.when(c, F.lit(n + ",")).otherwise(F.lit("")) for n, c in checks])
    keep = None
    for _, c in checks:
        keep = ~c if keep is None else keep & ~c
    return d.select(
        "doc_id",
        "n_ws_tokens",
        "quality_score",
        "pred_lang",
        keep.alias("keep"),
        F.regexp_replace(reasons, ",$", "").alias("reasons"),
    )


# ---------------------------------------------------------------------------
# tokenizer vocabulary induction — top-K token table with corpus coverage:
# the table a tokenizer-training run inspects first ("how many types cover
# 99% of tokens?"). Counts are one map-side-combined aggregate; the top-K
# selection is a distributed TakeOrdered (never a global sort of the full
# vocabulary); only the K SURVIVORS pass through the cumulative window, so
# the single-partition window is K-bounded by construction — the same
# reasoning as unigram_logprob's vocab, now carrying rank + coverage.
# ---------------------------------------------------------------------------

VOCAB_TOPK_K = 64  # gate-scale table size; production ~10^5


def vocab_topk(df: DataFrame, k: int = VOCAB_TOPK_K, text_col: str = "text") -> DataFrame:
    """(rank, token, count, frac, cum_frac): the K most frequent lowercased
    whitespace tokens, each with its corpus share and the running coverage
    of the vocabulary so far (6 dp, ties broken token-ascending)."""
    df = _plan.widen(df)
    words = ws_words(F.lower(F.col(text_col)))
    counts = (
        df.select(F.explode(words).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("count"))
        .persist()
    )
    # pin the 1-row total BEFORE releasing the counts cache — total is only
    # consumed at the final action, which would otherwise re-tokenize the
    # whole corpus once the top-K pin releases the cache
    total = _plan.pin(counts.agg(F.sum("count").alias("_tot")))
    top = _plan.pin(_top_k(counts, k, "token", "count"), counts)
    w = Window.orderBy(F.col("count").desc(), F.col("token")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        top.crossJoin(F.broadcast(total))
        .select(
            F.row_number()
            .over(Window.orderBy(F.col("count").desc(), F.col("token")))
            .cast("int")
            .alias("rank"),
            "token",
            F.col("count").cast("bigint").alias("count"),
            F.round(F.col("count") / F.col("_tot"), 6).alias("frac"),
            F.round(F.sum("count").over(w) / F.col("_tot"), 6).alias("cum_frac"),
        )
    )


# ---------------------------------------------------------------------------
# trigram LM with stupid backoff — rung 3 of the perplexity-filter ladder
# (unigram -> bigram -> trigram; Brants et al. 2007, "Large Language Models
# in Machine Translation"). Unlike the bigram rung, the model here does NOT
# score its own training data: the corpus is hash-split into a TRAIN
# partition (counts come from it alone) and a HELDOUT partition (the docs
# that get scored), so unseen trigrams/bigrams are real and the backoff
# chain is genuinely exercised — the exact shape of a production filter
# scoring incoming crawl batches under a reference model.
#
# Score of token w given context (p2, p1), all <unk>-collapsed over the
# TRAIN top-K vocabulary (<s> <s> sentence-start padding):
#   c3(p2,p1,w) > 0 : c3 / ctx3(p2,p1)          ctx3 derived: sum_c c3
#   c2(p1,w)    > 0 : a  * c2 / ctx2(p1)        ctx2 derived: sum_c c2
#   otherwise       : a^2 * (c1(w)+1)/(N+V)     add-one floor, never zero
# with a = TRI_ALPHA = 0.4 (the paper's constant). Scores are not
# normalized probabilities — that is stupid backoff's entire trade: no
# discount bookkeeping, every level a plain grouped count.
#
# Scale shape: three map-side-combined count aggregates over the train
# stream (trigram keys dominate; at 10^12 tokens the c3 table is the big
# one — it shuffles on (p2,p1,w), exactly the hash layout the scoring join
# needs, and both context tables derive from c3/c2 for free). Scoring is
# three LEFT equality joins from the heldout stream onto those tables plus
# one broadcast of the K-bounded vocab/total. Nothing all-pairs, nothing
# driver-side beyond the 1-row (N, V) scalar.
# ---------------------------------------------------------------------------

TRI_ALPHA = 0.4  # stupid-backoff discount per level
TRI_SALT = "lmtri-v1"
TRI_TRAIN_FRAC = 0.8  # hash share of docs the counts are trained on
TRI_VOCAB_K = 10_000


def _tri_hash(key_col: str, salt: str) -> Column:
    return F.expr(
        f"cast(conv(substr(md5(concat('{salt}', ':', cast({key_col} as string))),1,8),16,10) as bigint)"
    )


def trigram_logprob(
    df: DataFrame,
    vocab_k: int = TRI_VOCAB_K,
    train_frac: float = TRI_TRAIN_FRAC,
    text_col: str = "text",
) -> DataFrame:
    """Score each HELDOUT doc (hash >= train_frac cutoff) under the stupid-
    backoff trigram model counted from the TRAIN docs. Per doc: n_tokens,
    n_unk, and how many tokens resolved at each backoff level (n_tri / n_bi
    / n_uni), plus the mean ln-score (per-token ln rounded to 12 dp before
    the mean, 6 dp after — the ladder's libm-proofing convention; NULL for
    empty docs)."""
    df = _plan.widen(df)
    cut = int(train_frac * (1 << 32))
    is_train = _tri_hash("doc_id", TRI_SALT) < cut

    train_ev = _ngram_events(df.filter(is_train), text_col, 3)
    vocab = _lm_vocab(train_ev, vocab_k)
    vm = vocab.count() + 1  # |vocab| + <unk>, the add-one denominator V
    # a literal <s> token is the start symbol in every position here (the
    # bigram scorers read it as a word when it is the current token)
    bos = ("p2", "p1", "cur")

    # one pass builds the mapped train stream; persist it for the four
    # actions (c3 / c2 / c1 counts + the N scalar); the last pin releases it,
    # and the count tables are pinned so nothing re-reads the corpus after
    tm = _unk_collapse(train_ev, vocab, bos).persist()
    c3 = _plan.pin(tm.groupBy("p2", "p1", "cur").agg(F.count("*").alias("c3")))
    ctx3 = c3.groupBy("p2", "p1").agg(F.sum("c3").alias("t3"))  # derived free
    c2 = _plan.pin(tm.groupBy("p1", "cur").agg(F.count("*").alias("c2")))
    ctx2 = c2.groupBy("p1").agg(F.sum("c2").alias("t2"))
    n_total = tm.count()  # driver-side scalar, one job on the cached tm
    c1 = _plan.pin(tm.groupBy("cur").agg(F.count("*").alias("c1")), tm)

    a = F.lit(TRI_ALPHA)
    score = (
        F.when(F.col("c3").isNotNull(), F.col("c3") / F.col("t3"))
        .when(F.col("c2").isNotNull(), a * F.col("c2") / F.col("t2"))
        .otherwise(a * a * (F.coalesce(F.col("c1"), F.lit(0)) + 1) / F.lit(float(n_total + vm)))
    )
    level = (
        F.when(F.col("c3").isNotNull(), F.lit("tri"))
        .when(F.col("c2").isNotNull(), F.lit("bi"))
        .otherwise(F.lit("uni"))
    )
    scored = (
        _unk_collapse(_ngram_events(df.filter(~is_train), text_col, 3), vocab, bos)
        .join(c3, ["p2", "p1", "cur"], "left")
        .join(c2.join(ctx2, "p1"), ["p1", "cur"], "left")
        .join(F.broadcast(c1), "cur", "left")
        .join(ctx3, ["p2", "p1"], "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("_nt"),
            F.sum(F.when(F.col("cur") == UNK, 1).otherwise(0)).alias("_nu"),
            F.sum(F.when(level == "tri", 1).otherwise(0)).alias("_l3"),
            F.sum(F.when(level == "bi", 1).otherwise(0)).alias("_l2"),
            F.sum(F.when(level == "uni", 1).otherwise(0)).alias("_l1"),
            F.avg(F.round(F.log(score), 12)).alias("_alp"),
        )
    )
    return (
        df.filter(~is_train)
        .select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("_nt"), F.lit(0)).cast("int").alias("n_tokens"),
            F.coalesce(F.col("_nu"), F.lit(0)).cast("int").alias("n_unk"),
            F.coalesce(F.col("_l3"), F.lit(0)).cast("int").alias("n_tri"),
            F.coalesce(F.col("_l2"), F.lit(0)).cast("int").alias("n_bi"),
            F.coalesce(F.col("_l1"), F.lit(0)).cast("int").alias("n_uni"),
            F.round(F.col("_alp"), 6).alias("avg_logprob"),
        )
    )


# ---------------------------------------------------------------------------
# URL / domain blocklist filtering — the crawl-pipeline gate that drops
# documents fetched from known-bad origins (the UT1/Blacklists-style domain
# lists every web-corpus pipeline applies before any content filter; e.g.
# RefinedWeb §3.1 "URL filtering"). An entry blocks either one exact host or
# a whole registrable-domain subtree (`*.tracker.example`). Matching is done
# the scale-correct way: each host expands to its ≤MAX_HOST_DEPTH label
# suffixes (`a.b.c.d` → `a.b.c.d`, `b.c.d`, `c.d`, `d`), and the suffixes
# equality-join against the broadcast blocklist — a hash lookup per suffix,
# never a LIKE/regex scan over a million-entry list. The depth cap guards
# against adversarial million-label hosts and is applied from the SHORT end
# (registrable domains are the last labels — the suffixes that matter);
# suffix entries match any generated suffix, exact entries only the full
# host (entries deeper than MAX_HOST_DEPTH labels are out of contract). The
# synthetic corpus has no url column, so the driver query runs over a
# deterministically AUGMENTED table (augment_urls — same convention as
# augment_pii), with block-rule precedence encoded in the CASE order.
# Scale shape: one bounded explode (×≤MAX_HOST_DEPTH), one broadcast hash
# join, one groupBy over the MATCHED rows only (tiny — blocked docs), and a
# key join back to the corpus; the clean-path rows never shuffle wide.
# ---------------------------------------------------------------------------

BLOCK_EXACT = ["spam.example.com", "malware.example.net"]
BLOCK_SUFFIX = ["tracker.example", "adsite.example"]  # match host == or *.s
MAX_HOST_DEPTH = 5  # suffix candidates per host; hosts are shallower in practice
URL_SPAM_MOD = 11  # doc_id % 11 == 0 -> exact-blocked host
URL_TRACKER_MOD = 13  # doc_id % 13 == 0 -> suffix-blocked subdomain
URL_MALWARE_MOD = 17
HOST_RX = "^[a-z]+://([^/]+)"


def augment_urls(df: DataFrame) -> DataFrame:
    """Deterministic url column for verification: most docs get a clean
    per-doc_id host, every 11th an exact-blocklisted host, every 13th a
    subdomain of a suffix-blocklisted domain, every 17th a second exact
    entry (CASE precedence: 11 beats 13 beats 17)."""
    d = F.col("doc_id")
    url = (
        F.when(d % URL_SPAM_MOD == 0, F.concat(F.lit("https://spam.example.com/p/"), d))
        .when(
            d % URL_TRACKER_MOD == 0,
            F.concat(F.lit("https://cdn"), d % 4, F.lit(".tracker.example/x/"), d),
        )
        .when(d % URL_MALWARE_MOD == 0, F.concat(F.lit("http://malware.example.net/dl/"), d))
        .otherwise(F.concat(F.lit("https://site"), d % 50, F.lit(".example.org/p/"), d))
    )
    return df.withColumn("url", url)


def blocklist_filter(
    df: DataFrame,
    exact: list[str] | None = None,
    suffix: list[str] | None = None,
) -> DataFrame:
    """Per doc: url, extracted host, blocked verdict, and the matched
    blocklist entry (min entry string when several match; NULL when clean).
    One row per input doc."""
    df = _plan.widen(df)
    exact = BLOCK_EXACT if exact is None else exact
    suffix = BLOCK_SUFFIX if suffix is None else suffix
    spark = df.sparkSession
    bl = spark.createDataFrame(
        [(e, "exact") for e in sorted(exact)] + [(s, "suffix") for s in sorted(suffix)],
        "entry string, kind string",
    )
    host = F.lower(F.regexp_extract(F.col("url"), HOST_RX, 1))
    base = df.select("doc_id", "url", host.alias("host"))
    cands = base.select(
        "doc_id",
        "host",
        F.explode(
            F.expr(
                "transform("
                f"sequence(greatest(1, size(split(host, '[.]')) - {MAX_HOST_DEPTH} + 1), "
                "size(split(host, '[.]'))), "
                "i -> array_join(slice(split(host, '[.]'), i, size(split(host, '[.]'))), '.'))"
            )
        ).alias("cand"),
    )
    hits = (
        cands.join(
            F.broadcast(bl),
            (F.col("cand") == F.col("entry"))
            & ((F.col("kind") == "suffix") | (F.col("cand") == F.col("host"))),
        )
        .groupBy("doc_id")
        .agg(F.min("entry").alias("reason"))
    )
    return base.join(hits, "doc_id", "left").select(
        "doc_id",
        "url",
        "host",
        F.col("reason").isNotNull().alias("blocked"),
        "reason",
    )


# ---------------------------------------------------------------------------
# temperature-based mixture sampling — the multilingual-corpus rebalance
# where target shares are DERIVED from observed counts instead of given:
# q_s ∝ n_s^α with temperature α ∈ (0, 1] (α=1 keeps natural proportions,
# α→0 approaches uniform — the exponent-smoothed sampling of mBERT/XLM-R
# and mT5 §3.1). The largest corpus achievable without upsampling is then
# T = min_s(n_s / q_s), and the per-stratum keep fraction COLLAPSES to
#   frac_s = (n_min / n_s)^(1-α)
# — the normalizer Σ n_s^α cancels, so no cross-stratum float sum exists to
# diverge between engines; the one pow() is rounded to 12 dp before the
# hash cutoff (the repo's libm-proofing convention). The smallest stratum
# keeps everything, bigger strata are damped by their size ratio.
# Scale shape: identical to mixture_sample — one tiny per-stratum count
# agg, a 1-row min broadcast back, and one filter pass over the corpus with
# the #strata fraction table broadcast-joined on.
# ---------------------------------------------------------------------------

TEMP_SALT = "lmtemp-v1"
TEMP_ALPHA = 0.7  # mT5 uses 0.3 at 100+ languages; 0.7 suits few-strata


def temperature_sample(
    df: DataFrame,
    alpha: float = TEMP_ALPHA,
    stratum_col: str = "lang",
    salt: str = TEMP_SALT,
    key_col: str = "doc_id",
) -> DataFrame:
    """Rows kept by exponent-α smoothing of the stratum_col distribution.
    Returns (key_col, stratum_col) like mixture_sample."""
    counts = df.groupBy(stratum_col).agg(F.count("*").alias("n_s"))
    n_min = counts.agg(F.min("n_s").alias("n_min"))
    fracs = counts.crossJoin(F.broadcast(n_min)).select(
        stratum_col,
        F.round(F.pow(F.col("n_min") / F.col("n_s"), F.lit(1.0 - alpha)), 12).alias("frac"),
    )
    h = F.expr(
        f"cast(conv(substr(md5(concat('{salt}', ':', cast({key_col} as string))),1,8),16,10) as bigint)"
    )
    return (
        df.join(F.broadcast(fracs), stratum_col)
        .filter(h.cast("double") < F.col("frac") * F.lit(4294967296.0))
        .select(key_col, stratum_col)
    )


# ---------------------------------------------------------------------------
# corpus_prepare — the one-call preparation batch a training-data job
# actually runs over an incoming corpus: curation signals + verdict,
# normalized-dedup canonicality, and the train/val/test assignment, fused
# into ONE lazy plan. Everything except the dedup window is a projection,
# so the whole thing costs exactly one corpus scan and one shuffle (the
# normalized-fingerprint hash partitioning) — the same fusion discipline as
# convcorpus.curate_conversations, applied to the document side. The final
# `keep` is the production gate: canonical AND passing every curation rule
# (split is assigned to every doc so dropped docs remain auditable).
# ---------------------------------------------------------------------------


def corpus_prepare(
    df: DataFrame,
    weights: tuple[float, float, float] = DEFAULT_SPLIT_WEIGHTS,
    split_salt: str = SPLIT_SALT,
    text_col: str = "text",
) -> DataFrame:
    """One row per input doc: (doc_id, n_ws_tokens, quality_score,
    pred_lang, is_canonical, curate_keep, reasons, split, keep)."""
    from pyspark.sql import Window

    from .dedup import normalize_text

    w_train, w_val, w_test = weights
    if abs(w_train + w_val + w_test - 1.0) > 1e-9:
        raise ValueError(f"split weights must sum to 1, got {weights}")
    cut1 = int(w_train * (1 << 32))
    cut2 = int((w_train + w_val) * (1 << 32))
    h = F.expr(
        f"cast(conv(substr(md5(concat('{split_salt}', ':', cast(doc_id as string))),1,8),16,10) as bigint)"
    )
    split = (
        F.when(h < cut1, F.lit("train")).when(h < cut2, F.lit("val")).otherwise(F.lit("test"))
    )

    checks = _curate_checks()
    reasons = F.concat(*[F.when(c, F.lit(n + ",")).otherwise(F.lit("")) for n, c in checks])
    curate_keep = None
    for _, c in checks:
        curate_keep = ~c if curate_keep is None else curate_keep & ~c

    w = Window.partitionBy("_nfp")
    is_canonical = F.col("doc_id") == F.min("doc_id").over(w)
    return (
        _with_curate_signals(df, text_col)
        .withColumn("_nfp", F.md5(normalize_text(F.col(text_col))))
        .select(
            "doc_id",
            "n_ws_tokens",
            "quality_score",
            "pred_lang",
            is_canonical.alias("is_canonical"),
            curate_keep.alias("curate_keep"),
            F.regexp_replace(reasons, ",$", "").alias("reasons"),
            split.alias("split"),
            (is_canonical & curate_keep).alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# Gopher quality rules — the named heuristic filter of Rae et al. 2021
# (Gopher, Appendix A1.1), reused verbatim by MassiveText/RefinedWeb-class
# pipelines: word-count bounds, mean word length window, symbol-to-word
# ratio, bullet-line and ellipsis-line fractions, alphabetic-word fraction,
# and the ≥2-English-stopwords test. Every signal is a native projection
# (array/regexp expressions, zero shuffle, zero Python) — the whole filter
# is one map over the corpus. The synthetic docs are single-line and
# well-behaved, so the driver query runs over a deterministically AUGMENTED
# table (augment_gopher: bullet lines / trailing ellipsis / symbol runs on
# a doc_id grid — same convention as augment_pii) so every rule fires both
# ways on the gate corpus.
# ---------------------------------------------------------------------------

GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MAX_BULLET_FRAC = 0.9
GOPHER_MAX_ELLIPSIS_FRAC = 0.3
GOPHER_MIN_ALPHA_FRAC = 0.8
GOPHER_MIN_STOPWORDS = 2
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]
GOPHER_BULLET_MOD = 4  # doc_id % 4 == 0 -> two bullet lines prepended
GOPHER_ELLIPSIS_MOD = 6
GOPHER_SYMBOL_MOD = 9
GOPHER_STOP_MOD = 2  # doc_id % 2 == 0 -> a natural stopword-bearing line
GOPHER_STOP_LINE = "the point to be made of this and that would have stuck with us"


def augment_gopher(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic structure augmentation so each Gopher rule has real
    work: bullet lines, a trailing ellipsis line, a symbol run, and a
    natural stopword-bearing line on doc_id grids (a doc can get several) —
    the stopword grid is what lets part of the synthetic corpus PASS the
    >=2-stopwords rule, so the gate exercises both verdicts."""
    d, t = F.col("doc_id"), F.col(text_col)
    bul = F.when(d % GOPHER_BULLET_MOD == 0, F.lit("- item one\n- item two\n")).otherwise(F.lit(""))
    stp = F.when(d % GOPHER_STOP_MOD == 0, F.lit(GOPHER_STOP_LINE + "\n")).otherwise(F.lit(""))
    ell = F.when(d % GOPHER_ELLIPSIS_MOD == 0, F.lit("\nread more...")).otherwise(F.lit(""))
    sym = F.when(d % GOPHER_SYMBOL_MOD == 0, F.lit(" ### #### #####")).otherwise(F.lit(""))
    return df.withColumn(text_col, F.concat(bul, stp, t, ell, sym))


def gopher_rules(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per doc: the seven Gopher signals, the verdict, and the fixed-order
    failed-rule reason string ('' when kept)."""
    df = _plan.widen(df)
    t = F.col(text_col)
    d = df.select("doc_id", t.alias("_t"), ws_words(t).alias("_ws")).select(
        "doc_id",
        "_t",
        "_ws",
        F.size("_ws").alias("n_words"),
        F.split(F.col("_t"), "\n").alias("_lines"),
    )
    nw = F.col("n_words")
    mean_wl = F.when(
        nw > 0,
        F.expr("aggregate(_ws, 0, (a, w) -> a + length(w))") / nw,
    )
    sym_ratio = F.when(
        nw > 0,
        (F.regexp_count(F.col("_t"), F.lit("#")) + F.regexp_count(F.col("_t"), F.lit(r"\.\.\.")))
        / nw,
    )
    n_lines = F.size("_lines")
    bullet_frac = F.expr("size(filter(_lines, l -> l like '- %' or l like '• %'))") / n_lines
    ellipsis_frac = F.expr("size(filter(_lines, l -> l like '%...'))") / n_lines
    alpha_frac = F.when(
        nw > 0, F.expr("size(filter(_ws, w -> w rlike '[A-Za-z]'))") / nw
    )
    stop_lit = ", ".join(f"'{s}'" for s in GOPHER_STOPWORDS)
    n_stop = F.expr(
        f"size(array_intersect(array_distinct(transform(_ws, w -> lower(w))), array({stop_lit})))"
    )
    m = d.select(
        "doc_id",
        "n_words",
        F.round(mean_wl, 6).alias("mean_word_len"),
        F.round(sym_ratio, 6).alias("symbol_ratio"),
        F.round(bullet_frac, 6).alias("bullet_frac"),
        F.round(ellipsis_frac, 6).alias("ellipsis_frac"),
        F.round(alpha_frac, 6).alias("alpha_frac"),
        n_stop.cast("int").alias("n_stopwords"),
        mean_wl.alias("_mwl"),
        sym_ratio.alias("_sr"),
        bullet_frac.alias("_bf"),
        ellipsis_frac.alias("_ef"),
        alpha_frac.alias("_af"),
    )
    checks = [
        ("too_few_words", nw < GOPHER_MIN_WORDS),
        ("too_many_words", nw > GOPHER_MAX_WORDS),
        (
            "bad_mean_word_length",
            (F.coalesce(F.col("_mwl"), F.lit(0.0)) < GOPHER_MIN_MEAN_WORD_LEN)
            | (F.coalesce(F.col("_mwl"), F.lit(0.0)) > GOPHER_MAX_MEAN_WORD_LEN),
        ),
        ("too_many_symbols", F.coalesce(F.col("_sr"), F.lit(0.0)) > GOPHER_MAX_SYMBOL_RATIO),
        ("too_many_bullets", F.col("_bf") > GOPHER_MAX_BULLET_FRAC),
        ("too_many_ellipses", F.col("_ef") > GOPHER_MAX_ELLIPSIS_FRAC),
        ("too_few_alpha_words", F.coalesce(F.col("_af"), F.lit(0.0)) < GOPHER_MIN_ALPHA_FRAC),
        ("too_few_stopwords", F.col("n_stopwords") < GOPHER_MIN_STOPWORDS),
    ]
    reasons = F.concat(*[F.when(c, F.lit(n + ",")).otherwise(F.lit("")) for n, c in checks])
    keep = None
    for _, c in checks:
        keep = ~c if keep is None else keep & ~c
    return m.select(
        "doc_id",
        "n_words",
        "mean_word_len",
        "symbol_ratio",
        "bullet_frac",
        "ellipsis_frac",
        "alpha_frac",
        "n_stopwords",
        keep.alias("keep"),
        F.regexp_replace(reasons, ",$", "").alias("reasons"),
    )


# ---------------------------------------------------------------------------
# C4-style page cleaning — the line/page rules of Raffel et al. 2020 (§2.2,
# the C4 corpus): keep only lines that end in terminal punctuation and
# carry ≥5 words, drop lines mentioning javascript, and drop whole pages
# that end up with <3 retained lines, contain "lorem ipsum", or contain a
# curly brace (code). (C4's dirty-word list is out of scope here — the
# list itself is the asset, not the operator; the URL blocklist op covers
# list-driven filtering.) Everything is a native higher-order filter over
# the line array — zero shuffle, zero Python, clean text rebuilt in
# original line order. The synthetic docs are single-line without terminal
# punctuation, so the driver query runs over augment_c4's deterministic
# sentence/javascript/lorem/brace grids so every rule fires both ways.
# ---------------------------------------------------------------------------

C4_MIN_LINE_WORDS = 5
C4_MIN_KEPT_LINES = 3
C4_TERMINAL_RX = '[.!?"]$'
C4_SENT_MODS = (2, 3, 5)  # grids that receive a proper kept sentence each
C4_JS_MOD = 7
C4_LOREM_MOD = 11
C4_BRACE_MOD = 13


def augment_c4(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic line-structure augmentation: up to three proper
    sentences (so docs on the lcm grid pass the ≥3-kept-lines page rule), a
    javascript line, a lorem-ipsum line, and a brace, on doc_id grids."""
    d, t = F.col("doc_id"), F.col(text_col)
    sents = [
        (C4_SENT_MODS[0], "This line has more than five words here."),
        (C4_SENT_MODS[1], "Another proper sentence with enough words too."),
        (C4_SENT_MODS[2], "A third full sentence appears in this document."),
    ]
    parts = [t]
    for mod, line in sents:
        parts.append(F.when(d % mod == 0, F.lit("\n" + line)).otherwise(F.lit("")))
    parts.append(
        F.when(d % C4_JS_MOD == 0, F.lit("\nplease enable javascript to view this page.")).otherwise(F.lit(""))
    )
    parts.append(F.when(d % C4_LOREM_MOD == 0, F.lit("\nlorem ipsum dolor sit amet.")).otherwise(F.lit("")))
    parts.append(F.when(d % C4_BRACE_MOD == 0, F.lit(" {")).otherwise(F.lit("")))
    return df.withColumn(text_col, F.concat(*parts))


def c4_clean(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per doc: line counts before/after the C4 line rules, the page-rule
    flags, the page verdict, and the cleaned text (kept lines, original
    order, newline-joined)."""
    df = _plan.widen(df)

    def _line_keep(l):
        lt = F.trim(l)
        return (
            (lt != "")
            & lt.rlike(C4_TERMINAL_RX)
            & (F.size(F.split(lt, r"\s+")) >= C4_MIN_LINE_WORDS)
            & ~F.lower(lt).contains("javascript")
        )

    t = F.col(text_col)
    d = df.select(
        "doc_id",
        F.split(t, "\n").alias("_lines"),
        F.lower(t).contains("lorem ipsum").alias("has_lorem"),
        t.contains("{").alias("has_brace"),
    ).select(
        "doc_id",
        F.size("_lines").alias("n_lines"),
        F.filter("_lines", _line_keep).alias("_kept"),
        "has_lorem",
        "has_brace",
    )
    n_kept = F.size("_kept")
    keep = (n_kept >= C4_MIN_KEPT_LINES) & ~F.col("has_lorem") & ~F.col("has_brace")
    return d.select(
        "doc_id",
        "n_lines",
        n_kept.alias("n_kept_lines"),
        "has_lorem",
        "has_brace",
        keep.alias("keep"),
        F.array_join(F.col("_kept"), "\n").alias("clean_text"),
    )


def corpus_datacard(
    df: DataFrame,
    weights: tuple[float, float, float] = DEFAULT_SPLIT_WEIGHTS,
    salt: str = SPLIT_SALT,
) -> DataFrame:
    """The per-(lang, split) shipping report — the "data card" a corpus
    release carries — fused into ONE plan over one scan: split assignment
    (corpus_split's integer hash cutoffs, inlined so there is no join),
    duplicate and CROSS-SPLIT-LEAKAGE flags from one fingerprint window,
    then per-(lang, split) rollups: docs, ws tokens, exact p50/p95 chars,
    mean quality, duplicate docs, leaked docs. leaked_docs counts documents
    whose normalized fingerprint also appears in a DIFFERENT split — the
    train/test contamination figure every release report quotes.

    Cross-engine float discipline: quality_score is 6-dp rounded per doc,
    so ×1e6 it is an exact integer — the group mean is an exact bigint sum
    and one fixed division chain, never an order-dependent float64 sum.
    Scale shape: exactly two exchanges at any corpus size (the fingerprint
    window, then the (lang, split) aggregate); the leakage test is
    min(split) ≠ max(split) over the fingerprint partition, O(1) state."""
    df = _plan.widen(df)
    w_train, w_val, w_test = weights
    if abs(w_train + w_val + w_test - 1.0) > 1e-9:
        raise ValueError(f"split weights must sum to 1, got {weights}")
    cut1 = int(w_train * (1 << 32))
    cut2 = int((w_train + w_val) * (1 << 32))
    h = F.expr(
        f"cast(conv(substr(md5(concat('{salt}', ':', cast(doc_id as string))),1,8),16,10) as bigint)"
    )
    d = with_quality(df).select(
        "lang",
        F.when(h < cut1, F.lit("train"))
        .when(h < cut2, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
        ws_token_count(F.col("text")).alias("_nt"),
        F.length("text").alias("_len"),
        F.round(F.col("quality_score") * 1e6, 0).cast("bigint").alias("_q6"),
        fingerprint(F.col("text")).alias("_fp"),
    )
    wfp = Window.partitionBy("_fp")
    d = d.select(
        "lang",
        "split",
        "_nt",
        "_len",
        "_q6",
        (F.count("*").over(wfp) > 1).alias("_dup"),
        (F.min("split").over(wfp) != F.max("split").over(wfp)).alias("_leak"),
    )
    return d.groupBy("lang", "split").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("_nt").cast("bigint").alias("total_ws_tokens"),
        F.round(F.expr("percentile(_len, 0.5)"), 6).alias("p50_chars"),
        F.round(F.expr("percentile(_len, 0.95)"), 6).alias("p95_chars"),
        F.round(F.sum("_q6") / F.count("*") / F.lit(1000000.0), 6).alias("avg_quality"),
        F.sum(F.col("_dup").cast("int")).cast("bigint").alias("dup_docs"),
        F.sum(F.col("_leak").cast("int")).cast("bigint").alias("leaked_docs"),
    )


# ---------------------------------------------------------------------------
# BPE merge induction — tokenizer TRAINING, not just application: the
# Sennrich et al. 2016 algorithm (learn the N highest-frequency adjacent
# symbol-pair merges over a word-frequency table) re-expressed relationally.
#
# Scale shape: corpus-size work happens ONCE (the word-count aggregate);
# every merge round then runs on the DISTINCT-WORD symbol table — bounded
# by vocabulary size × avg word length, not corpus size — as one pair-count
# aggregate (map-side combined, weighted by word count) plus word-partitioned
# window passes that apply the merge with exact greedy left-to-right
# non-overlap semantics. The only driver traffic is ONE row per round (the
# winning pair). Each round's symbol table is pinned (_plan.pin) so
# round r+1 reads a materialized table instead of re-deriving r rounds of
# lineage.
#
# Greedy non-overlap without a sequential scan: candidate positions (sym=L,
# next=R) can only be ADJACENT when L == R (an 'aaaa' run); within each
# maximal run of consecutive candidates, greedy keeps the candidates at
# EVEN offset from the run head. run id = pos − row_number-among-candidates
# (constant inside a run), run head = min(candidate pos) per run — two
# windows, exactly replayable in SQL.
# ---------------------------------------------------------------------------

BPE_MERGES = 8
BPE_EOW = "</w>"  # end-of-word marker, merged like any other symbol


def bpe_merges(df: DataFrame, n_merges: int = BPE_MERGES, text_col: str = "text") -> DataFrame:
    """Learn the first n_merges BPE merges from the corpus: (round,
    left_sym, right_sym, pair_count, token). Ties break (count DESC, left
    ASC, right ASC) — deterministic on both engines (ASCII byte order)."""
    df = _plan.widen(df)
    spark = df.sparkSession
    words = (
        df.select(
            F.explode(F.expr(f"regexp_extract_all(lower({text_col}), '[a-z]+', 0)")).alias("w")
        )
        .groupBy("w")
        .agg(F.count("*").cast("bigint").alias("wc"))
    )
    chars = "transform(sequence(1, length(w)), i -> substring(w, i, 1))"
    eow = F.expr(f"concat({chars}, array('{BPE_EOW}'))")
    syms = _plan.pin(words.select("w", "wc", F.posexplode(eow).alias("pos", "sym")))

    w_seq = Window.partitionBy("w").orderBy("pos")
    merges = []
    for rnd in range(1, n_merges + 1):
        p = syms.withColumn("nxt", F.lead("sym").over(w_seq))
        best = (
            p.filter(F.col("nxt").isNotNull())
            .groupBy("sym", "nxt")
            .agg(F.sum("wc").alias("cnt"))
            .orderBy(F.col("cnt").desc(), "sym", "nxt")
            .limit(1)
            .collect()
        )
        if not best:
            break
        L, R, cnt = best[0]["sym"], best[0]["nxt"], int(best[0]["cnt"])
        merges.append((rnd, L, R, cnt, L + R))
        c = p.withColumn("cand", (F.col("sym") == L) & (F.col("nxt") == R))
        c = c.withColumn(
            "rn", F.row_number().over(Window.partitionBy("w", "cand").orderBy("pos"))
        )
        c = c.withColumn("grp", F.when(F.col("cand"), F.col("pos") - F.col("rn")))
        c = c.withColumn(
            "run_start",
            F.min(F.when(F.col("cand"), F.col("pos"))).over(Window.partitionBy("w", "grp")),
        )
        c = c.withColumn(
            "kept", F.col("cand") & (((F.col("pos") - F.col("run_start")) % 2) == 0)
        )
        c = c.withColumn("consumed", F.coalesce(F.lag("kept").over(w_seq), F.lit(False)))
        ns = c.filter(~F.col("consumed")).select(
            "w",
            "wc",
            "pos",
            F.when(F.col("kept"), F.lit(L + R)).otherwise(F.col("sym")).alias("sym"),
        )
        syms = _plan.pin(
            ns.select("w", "wc", (F.row_number().over(w_seq) - 1).alias("pos"), "sym")
        )
    return spark.createDataFrame(
        merges, "round int, left_sym string, right_sym string, pair_count bigint, token string"
    )


MEMO_SHINGLE_W = 8  # word n-gram width for the memorization scan


def memorization_scan(
    df: DataFrame,
    weights: tuple[float, float, float] = DEFAULT_SPLIT_WEIGHTS,
    salt: str = SPLIT_SALT,
    w: int = MEMO_SHINGLE_W,
) -> DataFrame:
    """Memorization-risk / cross-split n-gram NOVELTY scan: for every
    held-out (val/test) document, the fraction of its distinct w-token
    shingles that already occur in ANY train-split document. High seen_frac
    means the eval example is effectively memorized by the training set —
    the novelty audit run before trusting held-out loss. Complements
    decontaminate (which protects external benchmarks and can broadcast the
    tiny side): here BOTH sides come from the corpus, so the hit test is a
    digest-keyed equality shuffle join — at 10^12 turns the train shingle
    set is far beyond broadcast range, and md5 digests keep the shuffle key
    fixed-width (32 bytes) regardless of shingle text.

    Output: one row per held-out doc — (doc_id, split, n_shingles, n_seen,
    seen_frac 6 dp)."""
    df = _plan.widen(df)
    w_train, w_val, w_test = weights
    if abs(w_train + w_val + w_test - 1.0) > 1e-9:
        raise ValueError(f"split weights must sum to 1, got {weights}")
    cut1 = int(w_train * (1 << 32))
    h = F.expr(
        f"cast(conv(substr(md5(concat('{salt}', ':', cast(doc_id as string))),1,8),16,10) as bigint)"
    )
    cut2 = int((w_train + w_val) * (1 << 32))
    d = df.select(
        "doc_id",
        F.when(h < cut1, F.lit("train"))
        .when(h < cut2, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
        _ws_shingles(F.col("text"), w).alias("_sh"),
    )
    # The digest stream is persisted once: train-side distinct, and the
    # held-side join+counts, all ride one explode+md5 pass. Unpersisted it
    # was computed three times (train_digs, the hit join's probe side, and
    # the per-doc shingle count) — measured 3× the shingle cost for nothing.
    # The two count branches are also fused into ONE aggregation over the
    # left-joined held stream instead of two groupBys joined after the fact.
    sh = (
        d.select("doc_id", "split", F.explode("_sh").alias("s"))
        .filter(F.col("s") != "")
        .withColumn("dig", F.md5("s"))
        .drop("s")
        .persist()
    )
    train_digs = sh.filter(F.col("split") == "train").select("dig").distinct()
    held = sh.filter(F.col("split") != "train")
    flagged = held.join(train_digs.withColumn("_hit", F.lit(True)), "dig", "left")
    out = (
        flagged.groupBy("doc_id", "split")
        .agg(
            F.countDistinct("dig").cast("bigint").alias("n_shingles"),
            F.countDistinct(F.when(F.col("_hit"), F.col("dig"))).cast("bigint").alias("n_seen"),
        )
        .withColumn(
            "seen_frac",
            F.round(F.col("n_seen") / F.greatest(F.col("n_shingles"), F.lit(1)), 6),
        )
        .select("doc_id", "split", "n_shingles", "n_seen", "seen_frac")
    )
    return _plan.pin(out, sh)


WSAMPLE_K = 25  # per-language keep budget for the weighted sample
WSAMPLE_SALT = "lmwsample-v1"


def weighted_sample(df: DataFrame, k: int = WSAMPLE_K, salt: str = WSAMPLE_SALT) -> DataFrame:
    """Quality-WEIGHTED sampling without replacement, k per language — the
    Efraimidis-Spirakis A-ES scheme: each document draws a deterministic
    uniform u from its hashed id and competes with key u^(1/w), w = its
    quality score; the top-k keys per stratum are exactly a weighted sample
    without replacement. The standard curation step between "keep
    everything above a threshold" and "train on everything": oversample
    high-quality documents while keeping a tail of everything else, and the
    hash-derived u makes the draw reproducible run over run (and exactly
    replayable by the oracle — no RNG anywhere).

    Scale shape: one projection computes the key, one lang-partitioned
    window ranks it — a single bounded exchange; k is a constant so the
    output is |langs|·k rows."""
    u = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(f"{salt}:"), F.col("doc_id").cast("string"))), 1, 8),
            16,
            10,
        ).cast("double")
        / F.lit(float(1 << 32))
    )
    w_q = F.greatest(F.col("quality_score"), F.lit(1e-6))  # zero-weight guard
    d = with_quality(df).select(
        "doc_id",
        "lang",
        "quality_score",
        F.round(F.pow(u, F.lit(1.0) / w_q), 12).alias("sample_key"),
    )
    wl = Window.partitionBy("lang").orderBy(F.col("sample_key").desc(), F.col("doc_id"))
    return (
        d.withColumn("rank", F.row_number().over(wl).cast("int"))
        .filter(F.col("rank") <= k)
    )


ZIPF_TOPK = 100  # ranks that enter the log-log fit


def zipf_fit(df: DataFrame, k: int = ZIPF_TOPK, text_col: str = "text") -> DataFrame:
    """Zipf power-law fit of the vocabulary: least-squares slope/intercept/
    r² of ln(count) against ln(rank) over the top-k tokens — the one-row
    sanity report a corpus release quotes (natural text sits near slope −1;
    templated/log corpora drift flatter or steeper). No RNG, no iteration:
    rank by (count DESC, token), then closed-form least squares.

    Cross-engine float discipline: the five sums (Σx Σy Σxy Σx² Σy²) fold
    over an array ORDERED BY RANK (collect → array_sort → in-order
    aggregate), so both engines add identical float64 values in the same
    sequence; the closed forms are written with the same operation shape on
    both sides and rounded to 6 dp. Scale shape: one token-count aggregate
    (corpus-sized, map-side combined), then everything runs on k rows."""
    df = _plan.widen(df)
    words = ws_words(F.lower(F.col(text_col)))
    counts = (
        df.select(F.explode(words).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("c"))
    )
    # top-k via distributed TakeOrderedAndProject FIRST; the rank window
    # then runs on the k survivors only (never a vocab-sized single
    # partition — the cms_topk discipline)
    top = _top_k(counts, k, "token")
    top = top.withColumn(
        "rank", F.row_number().over(Window.orderBy(F.col("c").desc(), "token"))
    )
    pts = top.select(
        "rank", F.log(F.col("rank").cast("double")).alias("x"), F.log(F.col("c").cast("double")).alias("y")
    )
    arr = pts.groupBy().agg(
        F.array_sort(F.collect_list(F.struct("rank", "x", "y"))).alias("ps")
    )

    def _fold(expr):
        return F.aggregate("ps", F.lit(0.0), lambda acc, p: acc + expr(p))

    s = arr.select(
        F.size("ps").cast("double").alias("n"),
        _fold(lambda p: p["x"]).alias("sx"),
        _fold(lambda p: p["y"]).alias("sy"),
        _fold(lambda p: p["x"] * p["y"]).alias("sxy"),
        _fold(lambda p: p["x"] * p["x"]).alias("sxx"),
        _fold(lambda p: p["y"] * p["y"]).alias("syy"),
    )
    num = s["n"] * s["sxy"] - s["sx"] * s["sy"]
    den = s["n"] * s["sxx"] - s["sx"] * s["sx"]
    deny = s["n"] * s["syy"] - s["sy"] * s["sy"]
    return s.select(
        s["n"].cast("int").alias("k"),
        F.round(num / den, 6).alias("slope"),
        F.round((s["sy"] - (num / den) * s["sx"]) / s["n"], 6).alias("intercept"),
        F.round((num * num) / (den * deny), 6).alias("r2"),
    )


def length_histogram(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Power-of-two length histogram per language: bucket = floor(log2(
    chars)) (bucket −1 holds empty docs), with per-language doc share
    (12 dp). The length-distribution panel on every corpus report; one
    map-side-combined aggregate, a share window on the tiny (lang, bucket)
    table."""
    n = F.length(F.col(text_col))
    bucket = F.when(n <= 0, F.lit(-1)).otherwise(
        F.floor(F.log2(n.cast("double"))).cast("int")
    )
    out = (
        df.select("lang", bucket.alias("bucket"))
        .groupBy("lang", "bucket")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
    )
    wl = Window.partitionBy("lang")
    return out.withColumn(
        "lang_frac", F.round(F.col("n_docs") / F.sum("n_docs").over(wl), 12)
    )


TFIDF_TOPK = 3  # keywords kept per document


def tfidf_keywords(df: DataFrame, k: int = TFIDF_TOPK, text_col: str = "text") -> DataFrame:
    """TF-IDF keyword extraction: per document, the top-k tokens by
    tf·idf with idf = ln(N / df) (corpus-frequency damping — stopwords die,
    discriminative tokens surface). Output (doc_id, token, tf, df, score
    6 dp, rank), rank ties broken token-ascending.

    Scale shape: one (doc_id, token) count aggregate (map-side combined),
    one token-level document-frequency aggregate joined back on the token
    key, a single-row N broadcast, and a doc_id-partitioned rank window —
    nothing global, nothing Python. The score multiplies tf by one ln()
    call, both single float64 ops, so 6-dp rounding is engine-stable."""
    df = _plan.widen(df)
    words = ws_words(F.lower(F.col(text_col)))
    tf = (
        df.select("doc_id", F.explode(words).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count("*").cast("bigint").alias("tf"))
    )
    dfreq = tf.groupBy("token").agg(F.countDistinct("doc_id").cast("bigint").alias("df"))
    n_docs = df.select(F.countDistinct("doc_id").cast("bigint").alias("n"))
    scored = (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "token",
            "tf",
            "df",
            F.round(
                F.col("tf").cast("double")
                * F.log(F.col("n").cast("double") / F.col("df").cast("double")),
                6,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "token")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )


PMI_TOPK = 20
PMI_MIN_PAIR = 5  # pairs seen fewer times than this are noise, not signal


def pmi_collocations(df: DataFrame, k: int = PMI_TOPK, text_col: str = "text") -> DataFrame:
    """Pointwise-mutual-information collocations: the top-k adjacent token
    pairs by PMI = ln( p(x,y) / (p(x)·p(y)) ) with a PMI_MIN_PAIR count
    floor — the classic phrase-discovery pass (Mikolov-style word2phrase)
    run before tokenization. Output (x, y, pair_n, pmi 6 dp, rank), ties
    broken (x, y)-ascending.

    Scale shape: one bigram count agg and one unigram count agg (both
    map-side combined), two token-key joins for the marginals, two
    single-row totals broadcast, then TakeOrderedAndProject for the top-k —
    the rank window touches k rows only. The PMI is one ln() over a fixed
    ratio shape, so 6-dp rounding is engine-stable."""
    df = _plan.widen(df)
    words = ws_words(F.lower(F.col(text_col)))
    toks = df.select(F.explode(words).alias("tok"))
    # persisted: the unigram table feeds BOTH marginal joins and the token
    # total — three references that each re-exploded the corpus otherwise
    uni = toks.groupBy("tok").agg(F.count("*").cast("bigint").alias("c1")).persist()
    n_tot = uni.groupBy().agg(F.sum("c1").cast("bigint").alias("n"))
    grams = df.select(F.explode(_ngrams(words, 2)).alias("g"))
    # ONE bigram count pass: the unfiltered (x, y) count table is persisted,
    # the gram total is its sum (a |bigram-types|-bounded aggregate) and the
    # thresholded pair table is a filter over it — previously the corpus was
    # exploded into bigrams twice (once for the counts, once for the bare
    # total), the single most expensive pass in the query run twice.
    pairs_all = (
        grams.select(
            F.split(F.col("g"), " ")[0].alias("x"), F.split(F.col("g"), " ")[1].alias("y")
        )
        .groupBy("x", "y")
        .agg(F.count("*").cast("bigint").alias("pair_n"))
        .persist()
    )
    pairs = pairs_all.filter(F.col("pair_n") >= PMI_MIN_PAIR)
    p_tot = pairs_all.groupBy().agg(F.sum("pair_n").cast("bigint").alias("p"))
    scored = (
        pairs.join(uni.withColumnRenamed("tok", "x").withColumnRenamed("c1", "cx"), "x")
        .join(uni.withColumnRenamed("tok", "y").withColumnRenamed("c1", "cy"), "y")
        .crossJoin(F.broadcast(n_tot))
        .crossJoin(F.broadcast(p_tot))
        .select(
            "x",
            "y",
            "pair_n",
            F.round(
                F.log(
                    (F.col("pair_n").cast("double") / F.col("p").cast("double"))
                    / (
                        (F.col("cx").cast("double") / F.col("n").cast("double"))
                        * (F.col("cy").cast("double") / F.col("n").cast("double"))
                    )
                ),
                6,
            ).alias("pmi"),
        )
    )
    top = scored.orderBy(F.col("pmi").desc(), "x", "y").limit(k)
    out = top.withColumn(
        "rank", F.row_number().over(Window.orderBy(F.col("pmi").desc(), "x", "y")).cast("int")
    )
    return _plan.pin(out, pairs_all, uni)


KN_DISCOUNT = 0.75  # the standard Kneser-Ney absolute discount


def kn_logprob(
    df: DataFrame, vocab_k: int = BIGRAM_VOCAB_K, text_col: str = "text"
) -> DataFrame:
    """Interpolated Kneser-Ney bigram scoring — the smoothing that actually
    ships in n-gram LMs (KenLM's default), completing the LM suite
    (add-one unigram/bigram, stupid-backoff trigram):

        p(w|v) = max(c(vw) − D, 0)/c(v)  +  D·N1+(v·)/c(v) · N1+(·w)/B

    with D = KN_DISCOUNT, N1+(v·)/N1+(·w) the distinct-continuation counts
    and B the distinct bigram types — the continuation distribution scores
    how many CONTEXTS a word completes, not how often it occurs. Same
    contract as bigram_logprob: (doc_id, n_tokens, n_unk, avg_logprob 6 dp;
    12-dp per-bigram rounding before the mean). All counts are integers
    from one <unk>-collapsed bigram table; the float shape is fixed and
    mirrored in the oracle. B and |vocab| are K-bounded driver scalars."""
    df = _plan.widen(df)
    pairs = _ngram_events(df, text_col, 2)
    m = _unk_collapse(pairs, _lm_vocab(pairs, vocab_k), bos=("p1",))
    bc = _plan.pin(m.groupBy("p1", "cur").agg(F.count("*").alias("cb")))
    cc = bc.groupBy("p1").agg(
        F.sum("cb").cast("long").alias("ct"), F.count("*").cast("long").alias("n1f")
    )
    cont = bc.groupBy("cur").agg(F.count("*").cast("long").alias("n1b"))
    b_types = float(bc.count())
    d = KN_DISCOUNT
    pkn = (
        F.greatest(F.col("cb") - F.lit(d), F.lit(0.0)) / F.col("ct")
        + (F.lit(d) * F.col("n1f") / F.col("ct")) * (F.col("n1b") / F.lit(b_types))
    )
    scored = (
        m.join(bc, ["p1", "cur"])
        .join(F.broadcast(cc), "p1")
        .join(F.broadcast(cont), "cur")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("_nt"),
            F.sum(F.when(F.col("cur") == UNK, 1).otherwise(0)).alias("_nu"),
            F.avg(F.round(F.log(pkn), 12)).alias("_alp"),
        )
    )
    return (
        df.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("_nt"), F.lit(0)).cast("int").alias("n_tokens"),
            F.coalesce(F.col("_nu"), F.lit(0)).cast("int").alias("n_unk"),
            F.round(F.col("_alp"), 6).alias("avg_logprob"),
        )
    )


def langid_confusion(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Classifier-evaluation report for the n-gram langid against the
    corpus's labeled `lang` column: confusion counts per (lang, pred_lang)
    with per-true-language recall share (12 dp) — the accuracy table a
    pipeline publishes before trusting its language router. One langid
    projection + one tiny (lang, pred) aggregate + a share window on the
    |langs|² table."""
    d = with_langid(df, text_col=text_col).select("lang", "pred_lang")
    out = d.groupBy("lang", "pred_lang").agg(F.count("*").cast("bigint").alias("n_docs"))
    wl = Window.partitionBy("lang")
    return out.select(
        "lang",
        "pred_lang",
        "n_docs",
        F.round(F.col("n_docs") / F.sum("n_docs").over(wl), 12).alias("recall_share"),
        (F.col("lang") == F.col("pred_lang")).alias("correct"),
    )
