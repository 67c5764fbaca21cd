"""Schemas and constants.

The five sink schemas mirror the reference's series column lists exactly
(reference points.go:16-25); ``token`` is carried as an ordinary column instead
of being baked into a per-token table name (points.go:42-44) — at 10^12 turns a
table-per-token layout is untenable, a bucketed column is the Spark-native
answer.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Input: transcripts table (BASELINE.json input_hint)
# ---------------------------------------------------------------------------

TRANSCRIPTS_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)

# Raw-frame fixture (lpx framing + stateful token override tests,
# reference lpx/reader.go:43-85 and drain.go:87,103-105).
FRAMES_SCHEMA = T.StructType(
    [
        T.StructField("batch_id", T.StringType()),
        T.StructField("line_no", T.IntegerType()),
        T.StructField("drain_token", T.StringType()),  # Logplex-Drain-Token header
        T.StructField("frame", T.StringType()),
    ]
)

# ---------------------------------------------------------------------------
# Message classes (the reference's counter taxonomy, drain.go:27-47)
# ---------------------------------------------------------------------------

CLS_ROUTER = "router"
CLS_ROUTER_ERROR = "router_error"
CLS_ROUTER_BLANK = "router_blank"
CLS_DYNO_ERROR = "dyno_error"
CLS_DYNO_MEM = "dyno_mem"
CLS_DYNO_LOAD = "dyno_load"
CLS_UNKNOWN_HEROKU = "unknown_heroku"
CLS_UNKNOWN_USER = "unknown_user"
CLS_TOKEN_MISSING = "token_missing"

ALL_CLASSES = [
    CLS_ROUTER,
    CLS_ROUTER_ERROR,
    CLS_ROUTER_BLANK,
    CLS_DYNO_ERROR,
    CLS_DYNO_MEM,
    CLS_DYNO_LOAD,
    CLS_UNKNOWN_HEROKU,
    CLS_UNKNOWN_USER,
    CLS_TOKEN_MISSING,
]

# Classes that run the logfmt parse (and can therefore produce a
# logfmt-parse-error drop, drain.go:69-72).
PARSED_CLASSES = [CLS_ROUTER, CLS_ROUTER_ERROR, CLS_DYNO_ERROR, CLS_DYNO_MEM, CLS_DYNO_LOAD]

# Canonical msg_class ↔ tinyint code, used wherever the class string would
# otherwise cross a byte-counted boundary (the routing shuffle, the Arrow
# JVM→Python transfer into the parse UDF).
CLS_ID = {c: i for i, c in enumerate(ALL_CLASSES)}

# Sentinels (router_msg.go:23-25, dyno_msg.go:21-23). Byte-for-byte.
SENTINEL_CODE_H = " code=H"
SENTINEL_CODE_BLANK = " code=blank-app"
SENTINEL_DESC_BLANK = ' desc="Blank app"'
SENTINEL_DYNO_ERROR = "Error R"
SENTINEL_DYNO_MEM = "sample#memory_total"
SENTINEL_DYNO_LOAD = "sample#load_avg_1m"

TOKEN_PREFIX = "t."  # drain.go:20
HEROKU_NAME = "heroku"  # drain.go:22

# ---------------------------------------------------------------------------
# Extraction regexes — the single source of truth shared by the pandas-UDF
# parser, the native-expression parser, AND the generated DuckDB oracle SQL.
# RE2-compatible subset (no lookarounds) so Python `re`, Java regex and DuckDB
# all agree. Semantics mirror the Go handlers:
#   * string key:  key=value | key="value"            (router_msg.go:44-57)
#   * int+ms key:  strconv.Atoi(TrimSuffix(v,"ms"))    (router_msg.go:58-69)
#   * bare int:    strconv.Atoi(v)                     (router_msg.go:70-81)
#   * float+MB:    ParseFloat(TrimSuffix(v,"MB"))      (dyno_msg.go:58-65)
#   * int+pages:   Atoi(TrimSuffix(v,"pages"))         (dyno_msg.go:66-69)
#   * suffix-matched keys (sample#memory_total etc.)   (dyno_msg.go:58-69)
# ---------------------------------------------------------------------------


def pat_str(key: str) -> str:
    """Quoted-or-bare string value for an exact key."""
    return r'(?:^|\s)' + key + r'=(?:"([^"]*)"|([^\s"]*))'


def pat_int(key: str, suffix: str = "") -> str:
    """Integer value, optional unit suffix trimmed (TrimSuffix semantics)."""
    return r"(?:^|\s)" + key + r"=([+-]?\d+)(?:" + suffix + r")?(?:\s|$)" if suffix else (
        r"(?:^|\s)" + key + r"=([+-]?\d+)(?:\s|$)"
    )


def pat_float_suffix(key_suffix: str, unit: str = "") -> str:
    """Float value for a suffix-matched key (e.g. ``sample#memory_total``)."""
    tail = r"(?:" + unit + r")?(?:\s|$)" if unit else r"(?:\s|$)"
    return r"(?:^|\s)[^\s=]*" + key_suffix + r"=([+-]?(?:\d+\.?\d*|\.\d+))" + tail


def pat_int_suffix(key_suffix: str, unit: str) -> str:
    return r"(?:^|\s)[^\s=]*" + key_suffix + r"=([+-]?\d+)(?:" + unit + r")?(?:\s|$)"


def pat_present(key: str) -> str:
    """Key present at all: `key=...` OR a bare valueless `key` token — the
    logfmt scanner yields valueless keys with a nil value, and routerMsg's
    Atoi(nil) errors exactly like Atoi("garbage") (router_msg.go:58-81), so
    presence without '=' must also drop the row. Found by the parser fuzz
    (tests/test_parse_fuzz.py): 'fwd connect desc=x' must drop."""
    return r"(?:^|\s)" + key + r"(?:=|\s|$)"


# routerMsg required ints: any present-but-unparseable one drops the row
# (router_msg.go:58-81 returns error → drain.go:164-168 drops + counts).
ROUTER_INT_KEYS = {
    "connect": pat_int("connect", "ms"),
    "service": pat_int("service", "ms"),
    "status": pat_int("status"),
    "bytes": pat_int("bytes"),
}
PAT_ROUTER_PRESENT = {k: pat_present(k) for k in ROUTER_INT_KEYS}

PAT_CODE = pat_str("code")  # routerError.Code (router_msg.go:110-111)
PAT_SOURCE = pat_str("source")  # dyno source (dyno_msg.go:54-55)

MEM_FLOAT_KEYS = {
    "memory_cache": pat_float_suffix("memory_cache", "MB"),
    "memory_rss": pat_float_suffix("memory_rss", "MB"),
    "memory_swap": pat_float_suffix("memory_swap", "MB"),
    "memory_total": pat_float_suffix("memory_total", "MB"),
}
MEM_INT_KEYS = {
    "memory_pgpgin": pat_int_suffix("memory_pgpgin", "pages"),
    "memory_pgpgout": pat_int_suffix("memory_pgpgout", "pages"),
}
LOAD_KEYS = {
    "load_avg_1m": pat_float_suffix("load_avg_1m"),
    "load_avg_5m": pat_float_suffix("load_avg_5m"),
    "load_avg_15m": pat_float_suffix("load_avg_15m"),
}

# --- quote-aware pattern variants -------------------------------------------
# The Go scanner tokenizes quotes FIRST (logfmt/scanner.go:10-149): a `key=`
# sequence inside a quoted value is part of that value, never a key. The fast
# patterns above anchor keys at whitespace/line-start, so they can only be
# fooled by a quoted span that itself contains whitespace or '=' (a key match
# needs a preceding space and a trailing '='), or by escape sequences (inside
# a quoted value, '\' consumes the next byte — scanner.go qvalue state — so a
# \" does not close the span and JSON-style unquoting applies, unquote.go).
# Rows are therefore dispatched:
#
#   safe rows  (no quoted span containing \s, '=' or '\') → fast patterns,
#              which are PROVABLY identical to the scanner on those rows;
#   adversarial rows → the same pattern behind an ESCAPE-AWARE quote-parity
#              prefix that only lets a key match start after an even number
#              of span-delimiting quotes (escaped quotes are consumed as
#              two-byte `\x` units, exactly like the scanner).
#
# Escape contract (tests/test_parse_fuzz.py): in-grammar escapes inside
# quoted values are the FULL single-char table of Go's unquote
# (unquote.go:86-119): the identity set \" \\ \/ \' plus the control set
# \b \f \n \r \t. All three parsers and both oracles decode them — the
# Python sides (Arrow parser, oracle.py scanner) byte-exactly, the
# regex-only sides (native parsers' QA branch, DuckDB SQL oracle) via the
# sentinel-chained literal replaces in ESCAPE_CHAIN below, which is provably
# equal to the left-to-right scan on every input not containing the sentinel
# byte U+0001 (never emitted by the grammar). Remaining contract boundary:
#   * \uXXXX (unquote.go:120-141, incl. surrogate pairs): decoded exactly by
#     the Arrow parser and the Python scanner oracle; the pure-regex sides
#     have no numeric-decode callback, so \u stays LITERAL there (\uXXXX →
#     uXXXX) — datagen never emits \u, keeping the driver gate exact; the
#     \u contract is pinned by pytest goldens on the default parser instead.
#   * invalid escapes (Go fails unquote → row dropped): we decode literally
#     (\x → x) on every engine side; the scanner oracle keeps Go's drop.
#   * duplicate out-of-quote keys (scanner last-wins, regex first-wins) and
#     STRAY quotes/escapes not in a `k="..."` span (the Go scanner treats
#     those as garbage and still extracts keys from inside them —
#     inexpressible in RE2, which has no lookbehind).
#
# ADVERSARIAL_RX anchors at the span OPENER (quotes only open right after
# '=', per the grammar above). A quoted span is only UNSAFE for the fast
# patterns when its content could host a pattern anchor, i.e. when it
# contains
#   * '=' (every value/extraction pattern needs `key=`),
#   * '\' (escape semantics: \" does not close the span), or
#   * a whitespace-anchored BARE router-int keyword (the pat_present probes
#     `(?:\s)key(?:=|\s)` are the only patterns that fire without '=' —
#     connect/service/status/bytes, router_msg.go:58-81).
# A span that merely contains whitespace (desc="Request timeout",
# desc="Blank app" — ~8% of all rows!) cannot anchor anything and stays on
# the fast path; flagging on bare \s sent all those rows through the
# quote-parity crawl and was the real cost of round-3's quote-awareness
# (+52% on native_fast). Branch 1 stops at the FIRST terminator (content
# and terminator classes disjoint — no java.util.regex backtracking);
# branch 2's keyword scan only runs inside spans that survived branch 1.
# \s (not just space/tab) everywhere so a quoted \r or \f cannot leak the
# fast patterns onto an unsafe row (round-3 advice, low).
ADVERSARIAL_RX = (
    r'="[^"=\\]*[=\\]'
    r'|="[^"]*\s(?:connect|service|status|bytes)[\s=]'
)
# one scanner "character" of a quoted-or-plain region: an escape pair or a
# byte that is neither '"' nor '\'
_CH = r'(?:\\.|[^"\\])'
QUOTE_PARITY_PREFIX = r'^(?:' + _CH + r'*"' + _CH + r'*")*' + _CH + r'*?'

# span-parity strip rule: any `\x` pair is one scanner unit regardless of
# decode, so quote-parity counting just deletes the pairs. Identical in
# java.util.regex, RE2 and DuckDB; (?s) so an escaped literal newline is
# still one unit.
UNQUOTE_RX = r"(?s)\\(.)"

# Full single-char escape table of unquote.go:86-119 (identity + control).
ESCAPE_TABLE = (
    ('"', '"'),
    ("\\", "\\"),
    ("/", "/"),
    ("'", "'"),
    ("b", "\b"),
    ("f", "\f"),
    ("n", "\n"),
    ("r", "\r"),
    ("t", "\t"),
)
# Sentinel-chained decode for the regex-only engines (java expressions /
# DuckDB SQL), equal to the scanner's left-to-right two-byte walk:
#   1. `\\` → U+0001   (non-overlapping global replace consumes backslash
#                       PAIRS left-to-right exactly like the scanner)
#   2. each remaining known pair `\c` → its mapped char (the leftover
#      backslashes are isolated escape-starts, so the singles are disjoint)
#   3. remaining `\(.)` → `$1`  (invalid-escape literal decode, incl. \u)
#   4. U+0001 → `\`
# Step order is load-bearing; both regex sides must apply the same chain.
ESCAPE_SENTINEL = "\x01"
ESCAPE_CHAIN = [("\\\\", ESCAPE_SENTINEL)] + [
    ("\\" + c, ch) for c, ch in ESCAPE_TABLE if c != "\\"
]


def quote_aware(pat: str) -> str:
    return QUOTE_PARITY_PREFIX + pat


def pat_str_esc(key: str) -> str:
    """pat_str with an escape-aware quoted branch: the span runs over escape
    pairs (`\\.`) or non-quote bytes, mirroring scanner.go's qvalue state.
    Only used behind the quote-parity dispatch — on safe rows (no '\\' in any
    span) it is byte-for-byte equivalent to pat_str."""
    return r'(?:^|\s)' + key + r'=(?:"(' + _CH + r'*)"|([^\s"]*))'


ROUTER_INT_KEYS_QA = {k: quote_aware(p) for k, p in ROUTER_INT_KEYS.items()}
PAT_ROUTER_PRESENT_QA = {k: quote_aware(p) for k, p in PAT_ROUTER_PRESENT.items()}
PAT_CODE_QA = quote_aware(pat_str_esc("code"))
PAT_SOURCE_QA = quote_aware(pat_str_esc("source"))
MEM_FLOAT_KEYS_QA = {k: quote_aware(p) for k, p in MEM_FLOAT_KEYS.items()}
MEM_INT_KEYS_QA = {k: quote_aware(p) for k, p in MEM_INT_KEYS.items()}
LOAD_KEYS_QA = {k: quote_aware(p) for k, p in LOAD_KEYS.items()}

# --- canonical-tail mega patterns (single-pass fast path) --------------------
# One RE2 pass that extracts every value field of a class at once, applicable
# when the line ends with the producer's canonical key run (router.go /
# lpxgen/heroku.go emit fixed layouts; any real logfmt producer has a fixed
# key order per call site). Dispatch in the pandas parser:
#
#   adversarial slice → per-key QA patterns (unchanged);
#   safe slice        → ONE mega extract; rows where it matches take its
#                       groups, rows where it does not fall back to the
#                       per-key fast patterns (row-level fallback).
#
# Equivalence argument (why a mega HIT always equals the per-key result): the
# value charsets and boundaries are copied verbatim from pat_int/pat_*_suffix
# (the literal inter-key space satisfies both the trailing `(?:\s|$)` and the
# next key's `(?:^|\s)` anchor), and out-of-quote keys are unique in the
# grammar contract (duplicates are documented out-of-contract in
# tests/test_parse_fuzz.py), so the end-anchored occurrence IS the first
# occurrence. A mega MISS changes nothing: the row re-parses under the exact
# per-key patterns. Why end-anchored and literal-prefixed instead of a
# `(?:\S+ )*?` filler / `[^\s=]*` suffix-match: those generic forms knock RE2
# off its one-pass capture engine — measured 376 ms vs 63 ms per 100k router
# lines for the SAME hit set; the strict form misses more rows (e.g. a
# non-`sample#` key prefix), but a miss only costs the fallback.
_FLOAT_V = r"[+-]?(?:\d+\.?\d*|\.\d+)"
MEGA_ROUTER = (
    r" connect=(?P<connect>[+-]?\d+)ms service=(?P<service>[+-]?\d+)ms"
    r" status=(?P<status>[+-]?\d+) bytes=(?P<bytes>[+-]?\d+)$"
)
# Head-anchored router_error fast path: canonical lines open `at=error
# code=...` (router.go error emit). Requiring the first token quote-FREE
# makes the code= occurrence provably even-quote-parity AND first — i.e.
# exactly what the quote-aware per-key pattern would select — without the
# parity-prefix crawl (measured 77 ms → 5 ms per 15k rows). Misses fall
# back to the QA/fast per-key dispatch. The quoted branch is escape-aware
# (the mega runs BEFORE the adversarial dispatch, so it must not misread an
# escaped quote as the span close); its value is decoded with UNQUOTE_RX.
MEGA_ROUTER_ERROR = r'^at=[^\s"]+ code=(?:"(?P<q>' + _CH + r'*)"|(?P<b>[^\s"]*))'
MEGA_MEM = (
    r" sample#memory_total=(?P<memory_total>" + _FLOAT_V + r")MB"
    r" sample#memory_rss=(?P<memory_rss>" + _FLOAT_V + r")MB"
    r" sample#memory_cache=(?P<memory_cache>" + _FLOAT_V + r")MB"
    r" sample#memory_swap=(?P<memory_swap>" + _FLOAT_V + r")MB"
    r" sample#memory_pgpgin=(?P<memory_pgpgin>[+-]?\d+)pages"
    r" sample#memory_pgpgout=(?P<memory_pgpgout>[+-]?\d+)pages$"
)
MEGA_LOAD = (
    r" sample#load_avg_1m=(?P<load_avg_1m>" + _FLOAT_V + r")"
    r" sample#load_avg_5m=(?P<load_avg_5m>" + _FLOAT_V + r")"
    r" sample#load_avg_15m=(?P<load_avg_15m>" + _FLOAT_V + r")$"
)

# dynoError: code is EXACTLY the 2 bytes after "Error R" (dyno_msg.go:30-39);
# Atoi of those 2 bytes → \d\d or sign+digit. (A <9-byte message panics in the
# reference; we drop the row instead — documented divergence.)
PAT_DYNO_ERROR_CODE = r"^Error R(\d\d|[+-]\d)"

# ---------------------------------------------------------------------------
# Parsed-field struct produced by parse.parse_fields (one wide struct so the
# whole input is parsed in a single UDF/projection pass and the five sinks are
# cheap filters over one cached DataFrame — the Spark analog of the
# reference's single fused pass, drain.go:96-274).
# ---------------------------------------------------------------------------

PARSED_STRUCT = T.StructType(
    [
        T.StructField("status", T.IntegerType()),
        T.StructField("service", T.IntegerType()),
        T.StructField("error_code", T.StringType()),
        T.StructField("dyno_ecode", T.IntegerType()),
        T.StructField("source", T.StringType()),
        T.StructField("memory_cache", T.DoubleType()),
        T.StructField("memory_pgpgin", T.IntegerType()),
        T.StructField("memory_pgpgout", T.IntegerType()),
        T.StructField("memory_rss", T.DoubleType()),
        T.StructField("memory_swap", T.DoubleType()),
        T.StructField("memory_total", T.DoubleType()),
        T.StructField("load_avg_1m", T.DoubleType()),
        T.StructField("load_avg_5m", T.DoubleType()),
        T.StructField("load_avg_15m", T.DoubleType()),
        T.StructField("parse_error", T.BooleanType()),
    ]
)

# ---------------------------------------------------------------------------
# Sink schemas (points.go:16-25; token carried as a column per §1.3 of SURVEY).
# time is int64 microseconds since epoch: t.UnixNano()/1000 (drain.go:129).
# ---------------------------------------------------------------------------

SINK_ROUTER = "router"
SINK_EVENTS_ROUTER = "events_router"
SINK_DYNO_MEM = "dyno_mem"
SINK_DYNO_LOAD = "dyno_load"
SINK_EVENTS_DYNO = "events_dyno"
ALL_SINKS = [SINK_ROUTER, SINK_EVENTS_ROUTER, SINK_DYNO_MEM, SINK_DYNO_LOAD, SINK_EVENTS_DYNO]
