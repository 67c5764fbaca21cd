"""Count-min sketch operators — the bounded-state frequency summary a
10^12-token stream actually ships: CMS_DEPTH x CMS_WIDTH counters replace a
vocabulary-sized exact count table, merge by cell-wise addition (map-side
combinable, streaming-friendly), and answer point queries with a one-sided
(over-estimating) guarantee of eps = e / CMS_WIDTH of the stream mass
(Cormode & Muthukrishnan 2005).

Cross-engine contract: the hash family is md5('cms<row>:' || token) — the
same 32-bit-prefix construction every other string-keyed operator here uses
— so DuckDB replays the sketch CELL FOR CELL and the driver's value-exact
gate covers build, lookup, and ranking. Everything is native Catalyst
expressions; the sketch itself is CMS_DEPTH*CMS_WIDTH rows (bounded, far
below broadcast range) regardless of corpus size."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import _plan

CMS_DEPTH = 4
CMS_WIDTH = 1024
CMS_TOPK = 20


def _bucket(tok, row: int):
    """Row-`row`'s bucket for a token: 32-bit md5 prefix of the salted
    token, mod CMS_WIDTH."""
    h = F.conv(F.substring(F.md5(F.concat(F.lit(f"cms{row}:"), tok)), 1, 8), 16, 10)
    return (h.cast("bigint") % CMS_WIDTH).cast("int")


def _tokens(df: DataFrame, text_col: str) -> DataFrame:
    from .textstats import ws_words

    df = _plan.widen(df)  # single-row-group corpus scans yield 1-2 partitions
    return df.select(F.explode(ws_words(F.lower(F.col(text_col)))).alias("token"))


def cms_build(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Build the sketch: (row, bucket, cnt) — CMS_DEPTH rows per token
    occurrence, folded by a map-side-combined aggregate. The output is at
    most CMS_DEPTH*CMS_WIDTH rows; at cluster scale each executor combines
    its partition's counts locally and the shuffle moves only cells."""
    toks = _tokens(df, text_col)
    rows = F.explode(
        F.array(
            *[
                F.struct(F.lit(r).alias("row"), _bucket(F.col("token"), r).alias("bucket"))
                for r in range(CMS_DEPTH)
            ]
        )
    ).alias("rb")
    return (
        toks.select(rows)
        .select("rb.row", "rb.bucket")
        .groupBy("row", "bucket")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )


def cms_topk(df: DataFrame, k: int = CMS_TOPK, text_col: str = "text") -> DataFrame:
    """Heavy hitters THROUGH the sketch: estimate every distinct token's
    count as min over rows of its cell, rank by (est DESC, token ASC), keep
    the top k, and report the exact count next to the estimate (est >=
    exact always; equality when the token's cells are collision-free).

    Scale shape: ONE corpus token pass (the distinct-token count aggregate,
    persisted) feeds both sides — the sketch is rebuilt from it cell for
    cell (Σ exact_cnt per (row, bucket) ≡ the per-occurrence count
    cms_build folds, since every occurrence of a token lands in that
    token's cells), so the CMS_DEPTH md5 probes run once per DISTINCT
    token, never per occurrence, and the corpus is scanned once instead of
    twice. The sketch broadcasts (<= DEPTH*WIDTH rows) and the token table
    probes it with an equality join."""
    toks = _tokens(df, text_col)
    exact = toks.groupBy("token").agg(F.count("*").cast("bigint").alias("exact_cnt")).persist()
    exact.count()  # one corpus pass; sketch build + probe join both reuse it
    probes = exact.select(
        "token",
        "exact_cnt",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(r).alias("row"), _bucket(F.col("token"), r).alias("bucket"))
                    for r in range(CMS_DEPTH)
                ]
            )
        ).alias("rb"),
    ).select("token", "exact_cnt", "rb.row", "rb.bucket")
    sk = probes.groupBy("row", "bucket").agg(F.sum("exact_cnt").cast("bigint").alias("cnt"))
    est = (
        probes.join(F.broadcast(sk), ["row", "bucket"])
        .groupBy("token", "exact_cnt")
        .agg(F.min("cnt").cast("bigint").alias("est_cnt"))
    )
    ranked = est.select(
        "token",
        "est_cnt",
        "exact_cnt",
        (F.col("est_cnt") > F.col("exact_cnt")).alias("overestimated"),
    ).orderBy(F.col("est_cnt").desc(), "token").limit(k)
    # the rank window runs on the k already-selected rows — k is a constant,
    # so the single partition under it is k rows, never corpus-sized
    out = ranked.withColumn(
        "rank", F.row_number().over(Window.orderBy(F.col("est_cnt").desc(), "token"))
    )
    return _plan.pin(out, exact)


# ---------------------------------------------------------------------------
# Bloom-filter pre-filter — the membership sketch in front of incremental
# dedup: at 10^12 documents the prior-corpus fingerprint index cannot join
# against every incoming batch row, but a BLOOM_BITS-bit filter of it
# broadcasts everywhere and discards definite non-members before the exact
# join. One-sided like CMS: no false negatives, measurable false positives.
# BLOOM_BITS/BLOOM_HASHES are deliberately small for the gate corpus so the
# false-positive path actually fires and is verified (~5% FP at ~116 set
# bits); production sizes m for its own n (the math is in the docstring of
# bloom_prefilter).
# ---------------------------------------------------------------------------

BLOOM_BITS = 512
BLOOM_HASHES = 2
# gate split for the bloom driver query: NOT dedup.INC_INDEX_MOD (4) —
# the augmentation offset (1,000,000) is ≡ 0 mod 4, so originals and their
# exact copies would always land on the same side and exact_member could
# never fire; 1,000,000 ≡ 1 mod 3 splits every (orig, copy) pair
BLOOM_INDEX_MOD = 3


def _bloom_pos(fp, i: int):
    """Hash i's bit position for a fingerprint: 32-bit md5 prefix of the
    salted fingerprint, mod BLOOM_BITS."""
    h = F.conv(F.substring(F.md5(F.concat(F.lit(f"bloom{i}:"), fp)), 1, 8), 16, 10)
    return (h.cast("bigint") % BLOOM_BITS).cast("int")


def bloom_build(index_fps: DataFrame) -> DataFrame:
    """The set-bit table (pos int) of the index fingerprints — at most
    BLOOM_BITS rows after distinct, broadcastable at any index size."""
    return (
        index_fps.select(
            F.explode(
                F.array(*[_bloom_pos(F.col("fingerprint"), i) for i in range(BLOOM_HASHES)])
            ).alias("pos")
        )
        .distinct()
    )


def bloom_prefilter(batch: DataFrame, index_fps: DataFrame) -> DataFrame:
    """Flag every batch document through the bloom filter AND the exact
    index join side by side: (doc_id, bloom_member, exact_member,
    false_positive). bloom_member = all BLOOM_HASHES positions set; the
    guarantee under test: false negatives are impossible (exact_member →
    bloom_member), false positives occur at ~(k·n/m)^k and are exactly the
    rows the downstream join still has to check. Scale shape: the bit table
    and the fingerprint index both broadcast; the batch never shuffles."""
    from . import textstats

    fp = batch.select("doc_id", textstats.fingerprint(F.col("text")).alias("fingerprint"))
    bits = bloom_build(index_fps)
    probes = fp.select(
        "doc_id",
        "fingerprint",
        F.explode(
            F.array(*[_bloom_pos(F.col("fingerprint"), i) for i in range(BLOOM_HASHES)])
        ).alias("pos"),
    )
    hits = (
        probes.join(F.broadcast(bits), "pos")
        .groupBy("doc_id", "fingerprint")
        .agg(F.count("*").cast("int").alias("_set"))
    )
    member = fp.join(hits.select("doc_id", "_set"), "doc_id", "left").withColumn(
        "bloom_member", F.coalesce(F.col("_set"), F.lit(0)) == BLOOM_HASHES
    )
    # NO broadcast hint on the exact-membership join: the full distinct
    # fingerprint index is exactly what the module's scale story says is
    # beyond broadcast range (the bloom sketch exists because of that), so
    # forcing it driver-side would OOM at a real index size. The planner /
    # AQE picks broadcast on its own whenever the index actually fits
    # (round-5 advice).
    idx = index_fps.select("fingerprint").distinct().withColumn("_exact", F.lit(True))
    out = member.join(idx, "fingerprint", "left")
    exact = F.coalesce(F.col("_exact"), F.lit(False))
    return out.select(
        "doc_id",
        "bloom_member",
        exact.alias("exact_member"),
        (F.col("bloom_member") & ~exact).alias("false_positive"),
    )


# ---------------------------------------------------------------------------
# HyperLogLog distinct-count sketch (Flajolet et al. 2007) — the third leg
# of the sketch suite: CMS answers "how often", Bloom answers "seen
# before?", HLL answers "how many distinct" in HLL_REGISTERS bytes. Spark's
# approx_count_distinct is the production form but its HLL++ internals are
# not oracle-replayable; this explicit-register build is — same md5 hash
# discipline, so DuckDB reproduces every register AND the estimate.
# ---------------------------------------------------------------------------

HLL_P = 8  # 2^8 = 256 registers
HLL_REGISTERS = 1 << HLL_P


def hll_registers(df: DataFrame, text_col: str = "text") -> DataFrame:
    """The filled registers (bucket int, reg int). Each token hashes to a
    32-bit md5 prefix; the low HLL_P bits pick the register, and the
    register keeps the maximum number of leading zeros (+1) of the
    remaining 24 bits. Registers merge by per-bucket max, so partials built
    per micro-batch fold to these exactly (streaming.start_hll_stream)."""
    h = F.conv(F.substring(F.md5("token"), 1, 8), 16, 10).cast("bigint")
    d = _tokens(df, text_col).select(
        (h % HLL_REGISTERS).cast("int").alias("bucket"),
        F.shiftright(h, HLL_P).alias("rest"),
    )
    # leading zeros of the 24-bit remainder, +1; rest == 0 → 25
    rank = F.when(F.col("rest") == 0, F.lit(32 - HLL_P + 1)).otherwise(
        32 - HLL_P - F.floor(F.log2("rest")) # floor(log2) gives the top bit index
    )
    return d.groupBy("bucket").agg(F.max(rank).cast("int").alias("reg"))


def hll_distinct(df: DataFrame, text_col: str = "text") -> DataFrame:
    """One-row report: (n_registers, estimate, exact_distinct, err_frac)
    over hll_registers. The raw estimate alpha*m^2 / sum(2^-reg) applies
    the standard small-range linear-counting correction when estimate <=
    2.5m and empty registers exist.

    Cross-engine float discipline: the harmonic sum folds over registers in
    BUCKET ORDER (collect into an ordered array, then an in-order
    aggregate), so both engines add the same float64 values in the same
    sequence; the estimate is rounded to 6 dp. Scale shape: one map-side-
    combined max per register (256 groups), then a single-row fold —
    corpus-size work is exactly one aggregate pass."""
    toks = _tokens(df, text_col)
    regs = hll_registers(df, text_col)
    # fold registers IN BUCKET ORDER; absent buckets contribute 2^-0 = 1
    full = (
        regs.select(F.struct("bucket", "reg").alias("s"))
        .groupBy()
        .agg(F.array_sort(F.collect_list("s")).alias("rs"))
        .select(
            F.size("rs").alias("n_filled"),
            F.aggregate(
                "rs", F.lit(0.0), lambda acc, s: acc + F.pow(F.lit(2.0), -s["reg"])
            ).alias("hsum_filled"),
        )
    )
    # the estimate finishes INSIDE Catalyst (never driver-side Python: its
    # banker's round diverges from the Spark/DuckDB half-up pair)
    m = F.lit(float(HLL_REGISTERS))
    alpha = F.lit(0.7213) / (F.lit(1.0) + F.lit(1.079) / m)
    exact = toks.agg(F.countDistinct("token").cast("bigint").alias("exact_distinct"))
    j = full.crossJoin(exact)
    n_empty = (F.lit(HLL_REGISTERS) - F.col("n_filled")).cast("double")
    hsum = F.col("hsum_filled") + n_empty
    raw = alpha * m * m / hsum
    est6 = F.round(
        F.when((raw <= 2.5 * m) & (n_empty > 0), m * F.log(m / n_empty)).otherwise(raw), 6
    )
    return j.select(
        F.lit(HLL_REGISTERS).alias("n_registers"),
        est6.alias("estimate"),
        "exact_distinct",
        F.round(
            F.abs(est6 - F.col("exact_distinct"))
            / F.greatest(F.col("exact_distinct"), F.lit(1)).cast("double"),
            6,
        ).alias("err_frac"),
    )
