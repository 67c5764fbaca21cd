"""Golden equality: the distributed engine (both parser variants) must agree
row-for-row and count-for-count with the pure-Python oracle implementing
drain.go's exact branch logic (SURVEY §5 layers 1+3+4)."""

import pytest

from lumbermill_spark import classify, oracle, parse
from lumbermill_spark import schemas as S
from tests.conftest import make_transcripts_df
from tests.fixtures import tiny_rows


def _spark_outputs(spark, parser):
    df = make_transcripts_df(spark, tiny_rows())
    parsed = parse.with_parsed(classify.classify(df), parser=parser)
    sinks = {name: sorted(tuple(r) for r in b(parsed).collect()) for name, b in parse.SINK_BUILDERS.items()}
    counts = {r["msg_class"]: r["count"] for r in parsed.groupBy("msg_class").count().collect()}
    counts["logfmt_parse_error"] = parsed.filter("p.parse_error").count()
    return sinks, counts, parsed.schema["p"].dataType


def _oracle_outputs():
    rows = [
        {"conv_id": c, "turn_idx": i, "role": r, "text": x, "tool": tl, "time_us": t}
        for (c, i, r, x, tl, t) in tiny_rows()
    ]
    sinks, counters = oracle.process_rows(rows)
    return {k: sorted(map(tuple, v)) for k, v in sinks.items()}, counters


@pytest.mark.parametrize("parser", ["pandas", "native", "native_fast"])
def test_sinks_match_oracle(spark, parser):
    got_sinks, got_counts, p_type = _spark_outputs(spark, parser)
    exp_sinks, exp_counters = _oracle_outputs()
    for name in exp_sinks:
        assert got_sinks[name] == exp_sinks[name], f"sink {name} mismatch ({parser})"
    # class counts (oracle counter names == msg_class values)
    for cls in ("router", "router_error", "router_blank", "dyno_error", "dyno_mem",
                "dyno_load", "unknown_heroku", "unknown_user", "token_missing"):
        assert got_counts.get(cls, 0) == exp_counters.get(cls, 0), f"count {cls} ({parser})"
    assert got_counts["logfmt_parse_error"] == exp_counters.get("logfmt_parse_error", 0)
    # values compare 1 == 1.0, so pin the struct's field names and types too
    # (nullability ignored)
    got_fields = [(f.name, f.dataType) for f in p_type.fields]
    assert got_fields == [(f.name, f.dataType) for f in S.PARSED_STRUCT.fields], parser


@pytest.mark.parametrize("parser", ["pandas", "native"])
def test_mega_fallback_suffix_keys(spark, parser):
    """A suffix-matched key with a non-canonical prefix must MISS the literal
    canonical-tail fast path (schemas.MEGA_MEM) and fall back to the
    suffix-match per-key patterns — outside native_fast's declared grammar,
    so only the two full-suffix-match parsers are pinned here."""
    from tests import fixtures as FX

    df = make_transcripts_df(spark, [(FX.C3, 0, "heroku", FX.MEM_ODD_PREFIX, "web.11", FX.T0)])
    parsed = parse.with_parsed(classify.classify(df), parser=parser)
    (row,) = parse.sink_dyno_mem(parsed).collect()
    assert (row["source"], row["memory_total"], row["memory_rss"]) == ("web.11", 33.0, 11.0)


# --- escaped quotes inside quoted values (scanner.go qvalue skips `\x` as
# one unit; unquote.go decodes). In-contract escapes are \" \\ \/ \' (the
# identity-decode set — see schemas.py escape contract). Every engine must
# agree with the pure-Python scanner port on extraction, decode, AND the
# unterminated-string drop rule.
ESC_ROWS = [
    # escaped quote in a non-extracted value: row kept, plain fields intact
    ("e1", 0, "heroku", 'at=error code=H12 desc="time\\"out" status=503 sock=client', "router", T0_ESC := 1_735_689_600_000_000),
    # escaped quote inside the EXTRACTED source value → decoded `web"1.a`
    ("e2", 0, "heroku", 'source="web\\"1.a" sample#memory_total=10.00MB sample#memory_rss=5.00MB', "web.5", T0_ESC + 1),
    # escape + whitespace in the same span (adversarial on two counts)
    ("e3", 0, "heroku", 'source="we b\\"x" sample#load_avg_1m=1.50 sample#load_avg_5m=0.50 sample#load_avg_15m=0.25', "web.6", T0_ESC + 2),
    # quoted code reached via the raw classification sentinel inside another
    # span: mega hit must decode `H"9` (first even-parity code=)
    ("e4", 0, "heroku", 'at=error code="H\\"9" msg="retry code=H12 later" status=503', "router", T0_ESC + 3),
    # escaped backslash right before the closing quote: span closes, row kept
    ("e5", 0, "heroku", 'source=web.9 desc="tail\\\\" sample#load_avg_1m=2.50 sample#load_avg_5m=1.00 sample#load_avg_15m=0.75', "worker.2", T0_ESC + 4),
    # unterminated BECAUSE of the escape: `\"` does not close the span → drop
    ("e6", 0, "heroku", 'desc="a\\" sample#load_avg_1m=9.99 source=web.3', "web.7", T0_ESC + 5),
    # router line with an escaped quote in fwd + quoted trap after it:
    # ints must come from outside the spans
    ("e7", 0, "heroku", 'at=info fwd="1.2.3.4\\"x" note="y status=999" connect=3ms service=5ms status=200 bytes=10', "router", T0_ESC + 6),
    # stray escaped quote OUTSIDE any span: not a delimiter under the strip
    # rule — row keeps (scanner: bare value `\` then garbage quote)
    ("e8", 0, "heroku", 'odd=\\" sample#load_avg_1m=0.10 sample#load_avg_5m=0.20 sample#load_avg_15m=0.30 source=web.4', "web.8", T0_ESC + 7),
]


@pytest.mark.parametrize("parser", ["pandas", "native", "native_fast"])
def test_escaped_quotes_match_oracle(spark, parser):
    df = make_transcripts_df(spark, ESC_ROWS)
    parsed = parse.with_parsed(classify.classify(df), parser=parser)
    got_sinks = {name: sorted(tuple(r) for r in b(parsed).collect()) for name, b in parse.SINK_BUILDERS.items()}
    exp_sinks, exp_counters = oracle.process_rows(
        [
            {"conv_id": c, "turn_idx": i, "role": r, "text": x, "tool": tl, "time_us": t}
            for (c, i, r, x, tl, t) in ESC_ROWS
        ]
    )
    for name in exp_sinks:
        assert got_sinks[name] == sorted(map(tuple, exp_sinks[name])), f"sink {name} ({parser})"
    assert parsed.filter("p.parse_error").count() == exp_counters.get("logfmt_parse_error", 0)
    # decode spot-checks (pin the oracle itself, not just agreement)
    mem = {r["source"] for r in parse.sink_dyno_mem(parsed).collect()}
    assert 'web"1.a' in mem
    load = {r["source"] for r in parse.sink_dyno_load(parsed).collect()}
    assert {'we b"x', "web.9", "web.4"} == load  # e6 dropped (unterminated)
    codes = {r["code"] for r in parse.sink_events_router(parsed).collect()}
    assert codes == {"H12", 'H"9'}


# --- control escapes inside quoted values (\b \f \n \r \t — the rest of
# unquote.go:86-119's single-char table). In-contract since round 5: every
# engine decodes them to the control byte (the regex-only sides via
# schemas.ESCAPE_CHAIN's sentinel chain, the Python sides via the exact
# walk), so an extracted source can carry a literal tab/newline.
CTRL_ROWS = [
    # tab inside the EXTRACTED source → literal TAB byte in the sink value
    ("c1", 0, "heroku", 'source="web\\t1.2" sample#memory_total=10.00MB sample#memory_rss=5.00MB', "web.5", T0_CTRL := 1_735_689_700_000_000),
    # newline + carriage return decoded inside one extracted span
    ("c2", 0, "heroku", 'source="a\\nb\\r.1" sample#load_avg_1m=1.00 sample#load_avg_5m=0.50 sample#load_avg_15m=0.25', "web.6", T0_CTRL + 1),
    # \b \f in a NON-extracted span: row kept, plain fields intact, and the
    # quote-parity drop rule must treat the pairs as single scanner units
    ("c3", 0, "heroku", 'at=error code=H12 desc="bell\\b form\\f feed" status=503 sock=client', "router", T0_CTRL + 2),
    # identity + control escapes mixed in one extracted value
    ("c4", 0, "heroku", 'source="w\\"e\\tb.9" sample#memory_total=20.00MB sample#memory_rss=8.00MB', "worker.3", T0_CTRL + 3),
]


@pytest.mark.parametrize("parser", ["pandas", "native", "native_fast"])
def test_control_escapes_match_oracle(spark, parser):
    df = make_transcripts_df(spark, CTRL_ROWS)
    parsed = parse.with_parsed(classify.classify(df), parser=parser)
    got_sinks = {name: sorted(tuple(r) for r in b(parsed).collect()) for name, b in parse.SINK_BUILDERS.items()}
    exp_sinks, exp_counters = oracle.process_rows(
        [
            {"conv_id": c, "turn_idx": i, "role": r, "text": x, "tool": tl, "time_us": t}
            for (c, i, r, x, tl, t) in CTRL_ROWS
        ]
    )
    for name in exp_sinks:
        assert got_sinks[name] == sorted(map(tuple, exp_sinks[name])), f"sink {name} ({parser})"
    assert parsed.filter("p.parse_error").count() == exp_counters.get("logfmt_parse_error", 0)
    # pin the decoded bytes themselves, not just agreement
    mem = {r["source"] for r in parse.sink_dyno_mem(parsed).collect()}
    assert mem == {"web\t1.2", 'w"e\tb.9'}
    load = {r["source"] for r in parse.sink_dyno_load(parsed).collect()}
    assert load == {"a\nb\r.1"}


def test_control_escapes_duckdb_oracle_matches_scanner(tmp_path):
    _duckdb_vs_scanner(CTRL_ROWS, str(tmp_path / "ctrl.parquet"))


def test_unicode_escapes_default_parser():
    """\\uXXXX decode (unquote.go:120-141) is exact on the Python sides only
    (Arrow parser + scanner oracle); the regex-only engines leave \\u literal
    and datagen never emits it (schemas.py escape contract) — so it is
    pinned here on the default parser rather than through the driver gate."""
    from lumbermill_spark.parse import _decode_escapes_py
    from lumbermill_spark.oracle import _unquote

    cases = {
        # basic BMP code point
        'w\\u0041b.1': "wAb.1",
        # surrogate pair → one astral rune (😀 U+1F600)
        'g\\ud83d\\ude00x': "g\U0001F600x",
        # lone high surrogate → replacement rune, tail kept
        'h\\ud83dzz': "h�zz",
        # lone low surrogate → replacement rune
        'l\\udc00q': "l�q",
        # high surrogate followed by \u that is NOT a low surrogate:
        # replacement rune, then the second escape decodes on its own
        'p\\ud83d\\u0041q': "p�Aq",
    }
    for raw, want in cases.items():
        assert _decode_escapes_py(raw) == want, raw
        assert _unquote('"' + raw + '"') == want, raw
    # divergence pin: invalid hex → engine decodes literally (\u → u...),
    # the scanner oracle keeps Go's unquote failure (row drop upstream)
    assert _decode_escapes_py('x\\uZZZZy') == "xuZZZZy"
    with pytest.raises(oracle.LogfmtError):
        _unquote('"x\\uZZZZy"')


def _duckdb_vs_scanner(rows, path):
    """Pin the DuckDB SQL oracle (oracle_sql.py) against the pure-Python
    scanner port on a handcrafted row set: every sink row plus the
    parse_error count must agree."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from lumbermill_spark import oracle_sql

    pq.write_table(
        pa.table(
            {
                "conv_id": pa.array([r[0] for r in rows], type=pa.string()),
                "turn_idx": pa.array([r[1] for r in rows], type=pa.int32()),
                "role": pa.array([r[2] for r in rows], type=pa.string()),
                "text": pa.array([r[3] for r in rows], type=pa.string()),
                "tool": pa.array([r[4] for r in rows], type=pa.string()),
                "ts": pa.array([r[5] for r in rows], type=pa.timestamp("us", tz="UTC")),
            }
        ),
        path,
    )
    exp_sinks, exp_counters = oracle.process_rows(
        [
            {"conv_id": c, "turn_idx": i, "role": r, "text": x, "tool": tl, "time_us": t}
            for (c, i, r, x, tl, t) in rows
        ]
    )
    con = duckdb.connect()
    for name, sql_fn in (
        ("router", oracle_sql.sink_router),
        ("events_router", oracle_sql.sink_events_router),
        ("dyno_mem", oracle_sql.sink_dyno_mem),
        ("dyno_load", oracle_sql.sink_dyno_load),
        ("events_dyno", oracle_sql.sink_events_dyno),
    ):
        got = sorted(tuple(r) for r in con.execute(sql_fn(path)).fetchall())
        assert got == sorted(map(tuple, exp_sinks[name])), f"duckdb sink {name}"
    (nerr,) = con.execute(
        oracle_sql.classified_cte(path) + "SELECT count(*) FROM p WHERE parse_error"
    ).fetchone()
    assert nerr == exp_counters.get("logfmt_parse_error", 0)


def test_escaped_quotes_duckdb_oracle_matches_scanner(tmp_path):
    """Escape contract in the SQL oracle. These fixtures predate the datagen
    escape classes (router_error_escaped / dyno_load_escaped /
    dyno_mem_ctrl_escaped now exercise escapes through the driver's sf0.01
    gate too) and complement them with the edge shapes datagen deliberately
    avoids (unterminated-because-escaped, stray out-of-span escapes)."""
    _duckdb_vs_scanner(ESC_ROWS, str(tmp_path / "esc.parquet"))


def test_fixture_corpus_duckdb_oracle_matches_scanner(tmp_path):
    """The FULL handcrafted fixture corpus (every malformed-input policy,
    every adversarial quoted-span trap, every mega-pattern miss) through the
    DuckDB SQL oracle vs the scanner port. The datagen adversarial/escape
    classes exercise the oracle's QA dispatch at corpus scale through the
    driver gate; this fixture covers the deliberately-malformed shapes
    datagen leaves out, SQL-side."""
    _duckdb_vs_scanner(tiny_rows(), str(tmp_path / "tiny.parquet"))


def test_specific_policies(spark):
    """Spot-check the asymmetric error policies directly (FIXTURES.md §2)."""
    from tests import fixtures as FX

    df = make_transcripts_df(spark, tiny_rows())
    parsed = parse.with_parsed(classify.classify(df), parser="pandas")

    router = [(r["token"], r["status"], r["service"]) for r in parse.sink_router(parsed).collect()]
    # bad status / empty service / unterminated quote rows are GONE:
    # C1 keeps ROUTER_OK, ROUTER_NO_MS, and the two all-zero rows = 4 rows
    assert sum(1 for (t, _, _) in router if t == FX.C1) == 4
    # missing-int line kept with zeros; cross mem-on-router line kept with zeros
    assert sum(1 for (t, s, sv) in router if (s, sv) == (0, 0) and t == FX.C1) == 2
    # override row keyed by the OVERRIDING token, twice (one with null conv_id)
    assert sum(1 for (t, s, sv) in router if t == FX.OVR) == 2

    # adversarial quoted spans: extraction is quote-aware
    assert (FX.C3, 200, 5) in router  # quoted "status=999" ignored
    assert (FX.C3, 201, 2) in router  # bare 'connect' inside quotes ≠ present

    ev = {(r["token"], r["code"]) for r in parse.sink_events_router(parsed).collect()}
    assert (FX.C1, "H12") in ev and (FX.C1, "H99") in ev  # empty-ints row KEPT
    assert (FX.C3, "H13") in ev  # out-of-quote code wins over quoted code=H99

    mem = {r["source"]: r for r in parse.sink_dyno_mem(parsed).collect()}
    assert set(mem) == {"web.2", "worker.7", "web.8"}  # no-source row silently dropped
    assert mem["web.8"]["memory_total"] == 64.0  # quoted source=web.99 ignored
    m = mem["web.2"]
    assert (m["memory_total"], m["memory_rss"], m["memory_cache"], m["memory_swap"]) == (372.51, 127.25, 0.0, 0.01)
    assert (m["memory_pgpgin"], m["memory_pgpgout"]) == (147395, 315153)
    assert m["dyno_type"] == "web"
    p = mem["worker.7"]  # partial: absent keys → 0
    assert (p["memory_total"], p["memory_rss"], p["memory_pgpgin"]) == (12.5, 0.0, 0)

    dyno_ev = [(r["token"], r["code"], r["message"], r["what"], r["dyno_type"]) for r in parse.sink_events_dyno(parsed).collect()]
    assert dyno_ev == [(FX.C2, 14, FX.DYNO_ERROR, "web.14", "web")]  # R9/Rxx dropped; raw text preserved

    load = {r["token"]: r for r in parse.sink_dyno_load(parsed).collect()}
    assert load[FX.C2]["load_avg_1m"] in (1.75, 0.1)  # two load rows for C2 (one via self-token role)
    assert parse.sink_dyno_load(parsed).count() == 2
