"""Golden tests: the native-SQL minhash/simhash signature math vs an
independent pure-Python (hashlib + int ops) reimplementation.

This is the third leg of the dedup correctness tripod:
  1. DuckDB oracle (driver gate) replays the SQL math in another engine,
  2. behavioral recall tests (test_extras.py) check the LSH plumbing,
  3. THIS file recomputes signatures from the written definition —
     per shingle/token s: a = int(md5(s)[:15 hex]), b = int(md5(s)[16:30 / 16:20 hex]);
     minhash sig[j] = min_s(a + j*b); simhash bit j from a (j<60) or b (j>=60).

Each signature has two Spark legs: the product's Arrow kernel and a native
Catalyst SQL fold defined here (MINHASH_SIG_EXPR, _SIMHASH_BANDS_EXPR) — the
golden twins that the kernels replaced.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from lumbermill_spark.extras import dedup
from lumbermill_spark.extras.dedup import (
    _TOKENS_EXPR,
    MINHASH_P,
    MINHASH_PERMS,
    PERM_A,
    PERM_B,
    SIMHASH_BANDS,
    SIMHASH_BITS,
)

# EVALUATION-ORDER WARNING: Spark evaluates a higher-order function's
# *arguments* once, but re-evaluates its *lambda body* on every iteration —
# there is no loop-invariant hoisting. The md5 transform must therefore sit
# in argument position (input of the fold below), never inside the per-perm
# lambda; a naive `transform(seq(0,63), j -> ...md5...)` form recomputes
# every md5 64× and is ~60× slower. (The literal A/B arrays below constant-
# fold, so element_at on them inside the lambda is cheap.)
_SHINGLE_X = (
    "transform(transform(shingles, s -> md5(s)), "
    f"m -> cast(conv(substr(m,1,8),16,10) as bigint) % {MINHASH_P})"
)

_A_LIT = "array(" + ",".join(f"{v}L" for v in PERM_A) + ")"
_B_LIT = "array(" + ",".join(f"{v}L" for v in PERM_B) + ")"

# sig[j] = min over shingles of h_j(x): one fold over the shingle hashes,
# zip_with keeps the 64 running minima.
MINHASH_SIG_EXPR = (
    f"aggregate({_SHINGLE_X}, "
    f"array_repeat(cast({MINHASH_P} as bigint), {MINHASH_PERMS}), "
    f"(acc, x) -> zip_with(acc, sequence(0,{MINHASH_PERMS - 1}), "
    f"(mn, j) -> least(mn, (element_at({_A_LIT}, j+1) * x + element_at({_B_LIT}, j+1)) % {MINHASH_P})))"
)

_TOKEN_HASHES = (
    f"transform(transform({_TOKENS_EXPR}, t -> md5(t)), m -> named_struct("
    "'a', cast(conv(substr(m,1,15),16,10) as bigint), "
    "'b', cast(conv(substr(m,16,4),16,10) as bigint)))"
)

# One fold over the token hashes → 64 bit-sums (md5 once per token; see the
# evaluation-order warning above — the hashes are the fold's argument).
_SIMHASH_ACC = (
    f"aggregate({_TOKEN_HASHES}, "
    f"array_repeat(cast(0 as bigint), {SIMHASH_BITS}), "
    f"(acc, h) -> zip_with(acc, sequence(0,{SIMHASH_BITS - 1}), "
    "(x, j) -> x + 2 * (CASE WHEN j < 60 THEN shiftright(h.a, j) & 1 "
    "ELSE shiftright(h.b, j-60) & 1 END) - 1))"
)

# Second fold packs the 64 sign bits into 4 × 16-bit band ints. The expensive
# _SIMHASH_ACC is this fold's *argument* (evaluated once); a naive
# `transform(seq(0,3), b -> ...ACC...)` would recompute the whole token fold
# per band.
_SIMHASH_BANDS_EXPR = (
    f"aggregate({_SIMHASH_ACC}, "
    f"named_struct('i', 0, 'b', array_repeat(cast(0 as bigint), {SIMHASH_BANDS})), "
    f"(st, v) -> named_struct('i', st.i + 1, "
    f"'b', transform(sequence(0,{SIMHASH_BANDS - 1}), k -> "
    "CASE WHEN st.i div 16 = k THEN element_at(st.b, k+1) "
    "+ shiftleft(CASE WHEN v > 0 THEN cast(1 as bigint) ELSE cast(0 as bigint) END, st.i % 16) "
    "ELSE element_at(st.b, k+1) END)), "
    "st -> st.b)"
)

TEXTS = [
    "the quick brown fox jumps over the lazy dog",
    "the quick brown fox jumps over the lazy dog!",
    "pack my box with five dozen liquor jugs",
    "ab",  # shorter than SHINGLE_K → single-shingle fallback
    "",
    "   ",  # whitespace only → zero tokens
    "repeat repeat repeat repeat",
    "unicode café naïve über",
    None,  # NULL text → NULL signature in every impl
]


def _md5ab(s: str, b_digits: int) -> tuple[int, int]:
    h = hashlib.md5(s.encode("utf-8")).hexdigest()
    return int(h[:15], 16), int(h[15 : 15 + b_digits], 16)


def py_minhash_sig(text: str | None) -> list[int] | None:
    if text is None:
        return None
    k, p = dedup.SHINGLE_K, dedup.MINHASH_P
    n = max(len(text) - k + 1, 1)
    shingles = {text[i : i + k] for i in range(n)}
    xs = [int(hashlib.md5(s.encode("utf-8")).hexdigest()[:8], 16) % p for s in shingles]
    return [
        min((dedup.PERM_A[j] * x + dedup.PERM_B[j]) % p for x in xs)
        for j in range(dedup.MINHASH_PERMS)
    ]


def py_simhash_bands(text: str | None) -> list[int] | None:
    if text is None:
        return None
    toks = [t for t in __import__("re").split(r"[ \t\n\r]+", text) if t]
    acc = [0] * dedup.SIMHASH_BITS
    for t in toks:
        a, b = _md5ab(t, 4)
        for j in range(dedup.SIMHASH_BITS):
            bit = (a >> j) & 1 if j < 60 else (b >> (j - 60)) & 1
            acc[j] += 2 * bit - 1
    sbits = [1 if v > 0 else 0 for v in acc]
    return [
        sum(sbits[16 * band + i] << i for i in range(16)) for band in range(dedup.SIMHASH_BANDS)
    ]


def _df(spark):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(TEXTS)], "doc_id bigint, text string"
    )


def _native_minhash(df):
    """The signature as the native SQL fold: shingles, then the perm-min
    over their md5s. NULL text → NULL shingles and sig, as the arrow kernel
    gives (the bare fold would see shingles [NULL] and return the all-P
    sentinel)."""
    present = F.col("text").isNotNull()
    return df.withColumn("shingles", F.when(present, F.expr(dedup.SHINGLES_EXPR))).withColumn(
        "sig", F.when(present, F.expr(MINHASH_SIG_EXPR))
    )


def test_minhash_signatures_match_pure_python(spark):
    legs = {
        "arrow": _df(spark).withColumn("sig", dedup._minhash_sig_from_text(F.col("text"))),
        "native": _native_minhash(_df(spark)),
    }
    for impl, sigs in legs.items():
        got = {
            r["doc_id"]: r["sig"] and list(r["sig"])
            for r in sigs.select("doc_id", "sig").collect()
        }
        for i, t in enumerate(TEXTS):
            assert got[i] == py_minhash_sig(t), f"[{impl}] minhash sig mismatch for {t!r}"


def test_simhash_bands_match_pure_python(spark):
    legs = {
        "arrow": dedup.simhash_signatures(_df(spark)),
        "native": _df(spark).select("doc_id", F.expr(_SIMHASH_BANDS_EXPR).alias("bands")),
    }
    for impl, sigs in legs.items():
        got = {r["doc_id"]: r["bands"] and list(r["bands"]) for r in sigs.collect()}
        for i, t in enumerate(TEXTS):
            assert got[i] == py_simhash_bands(t), f"[{impl}] simhash bands mismatch for {t!r}"
            assert all(0 <= b < (1 << 16) for b in got[i] or [])


def test_minhash_shingles_are_distinct_ordered_sets(spark):
    rows = _native_minhash(_df(spark)).select("doc_id", "shingles").collect()
    by_id = {r["doc_id"]: r["shingles"] and list(r["shingles"]) for r in rows}
    for sh in by_id.values():
        assert sh is None or len(sh) == len(set(sh))
    # len<k fallback: whole text is the single shingle
    assert by_id[3] == ["ab"]
    assert by_id[4] == [""]
    assert by_id[TEXTS.index(None)] is None


def test_jaccard_expr_exact(spark):
    df = spark.createDataFrame(
        [(["a", "b", "c"], ["b", "c", "d"])], "x array<string>, y array<string>"
    )
    (val,) = df.select(dedup.jaccard_expr(F.col("x"), F.col("y")).alias("j")).collect()[0]
    assert val == 0.5


# ---------------------------------------------------------------------------
# Geometry goldens: dedup_embed_cosine and sim_ivf_topk replayed end-to-end
# from the WRITTEN SPEC in pure python/numpy — importing no algorithm code
# from lumbermill_spark.extras (the DuckDB oracle shares blocking constants
# with the Spark side, so a shared algorithmic bug could pass both; this
# leg cannot). Spec constants are intentionally re-stated literally.
# ---------------------------------------------------------------------------

EMBED_FIXTURE = "/root/testdata/sf0.001/embeddings.parquet"
# spec: dedup.augmented_embeddings / similarity.topk_ivf parameters
G_EXACT_MOD, G_EXACT_OFF = 7, 100_000
G_NEAR_MOD, G_NEAR_OFF, G_PERTURB = 11, 200_000, 0.5
G_CENTROIDS, G_NPROBE, G_TOPK, G_NQUERIES = 16, 2, 3, 24
G_COS_THRESHOLD = 0.98


def _load_vecs():
    import pyarrow.parquet as pq

    t = pq.read_table(EMBED_FIXTURE, columns=["vec_id", "embedding"])
    return {
        i: [float(x) for x in v]
        for i, v in zip(t["vec_id"].to_pylist(), t["embedding"].to_pylist())
    }


def _seq_dot(a, b):
    # sequential left-to-right fold — the evaluation order of Spark's
    # F.aggregate, so values agree bit-for-bit (numpy's pairwise/SIMD
    # summation would differ in the last ulp)
    acc = 0.0
    for x, y in zip(a, b):
        acc += x * y
    return acc


def _cos(a, b):
    import math

    return _seq_dot(a, b) / (math.sqrt(_seq_dot(a, a)) * math.sqrt(_seq_dot(b, b)))


def _cells(v, cents, nprobe):
    ranked = sorted(((_cos(v, cv), -cid) for cid, cv in cents.items()), reverse=True)
    return [-negid for _, negid in ranked[:nprobe]]


def test_embedding_cosine_pairs_matches_numpy_golden(spark):
    V = _load_vecs()
    aug = dict(V)
    for i, v in V.items():
        if i % G_EXACT_MOD == 0:
            aug[i + G_EXACT_OFF] = list(v)
        if i % G_NEAR_MOD == 0:
            w = list(v)
            w[0] += G_PERTURB
            aug[i + G_NEAR_OFF] = w
    cents = {i: aug[i] for i in range(G_CENTROIDS)}
    cell_of = {i: set(_cells(v, cents, G_NPROBE)) for i, v in aug.items()}
    ids = sorted(aug)
    expect = {}
    for xi, a in enumerate(ids):
        for b in ids[xi + 1 :]:
            if cell_of[a] & cell_of[b]:
                c = _cos(aug[a], aug[b])
                if c >= G_COS_THRESHOLD:
                    expect[(a, b)] = c

    embeds = spark.read.parquet(EMBED_FIXTURE)
    got = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in dedup.embedding_cosine_pairs(embeds).collect()  # augments internally
    }
    assert set(got) == set(expect)
    for k, v in got.items():
        assert abs(v - round(expect[k], 6)) < 2e-6, k


def test_ivf_topk_matches_numpy_golden(spark):
    from lumbermill_spark.extras import similarity

    V = _load_vecs()
    cents = {i: V[i] for i in range(G_CENTROIDS)}
    cand_cell = {i: _cells(v, cents, 1)[0] for i, v in V.items()}
    expect = {}
    for q in range(G_NQUERIES):
        probe = set(_cells(V[q], cents, G_NPROBE))
        pool = [i for i, c in cand_cell.items() if c in probe and i != q]
        ranked = sorted(((_cos(V[q], V[i]), -i) for i in pool), reverse=True)
        for rank, (c, negid) in enumerate(ranked[:G_TOPK], start=1):
            expect[(q, -negid)] = (rank, c)

    got = {
        (r["query_id"], r["neighbor_id"]): (r["rank"], r["score"])
        for r in similarity.topk_ivf(spark.read.parquet(EMBED_FIXTURE)).collect()
    }
    assert set(got) == set(expect)
    for k, (rank, score) in got.items():
        erank, ecos = expect[k]
        assert rank == erank, k
        assert abs(score - round(ecos, 6)) < 2e-6, k
