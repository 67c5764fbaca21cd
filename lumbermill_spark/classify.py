"""Native-expression classification tree.

Replicates drain.go's per-line dispatch EXACTLY, including precedence
(drain.go:96-274):

  1. effective token: a ``t.``-prefixed syslog Name overrides the drain token
     (drain.go:103-105); empty token → dropped + counted (drain.go:108-111)
  2. Name == "heroku" or Name startswith "t." → heroku path, else unknown_user
     (drain.go:117, drain.go:260)
  3. Procid == "router" → router branch (drain.go:132-133):
       " code=H" substring → router_error          (drain.go:137)
       " code=blank-app" | ' desc="Blank app"' → router_blank (drain.go:157)
       otherwise → router                           (drain.go:161)
     else dyno branch (drain.go:174):
       prefix "Error R" → dyno_error                (drain.go:177)
       "sample#memory_total" substring → dyno_mem   (drain.go:191)
       "sample#load_avg_1m" substring → dyno_load   (drain.go:222)
       otherwise → unknown_heroku                   (drain.go:243)

Everything here is pure Catalyst expressions (whole-stage-codegen'd, no UDF):
the cheap sentinel tests run BEFORE the parse UDF, mirroring the reference's
hand-rolled short-circuit prefilters (SURVEY.md §4) — we keep the filter
native and upstream of the UDF so Catalyst can push it into the scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import schemas as S


def effective_token(role: Column, conv_id: Column) -> Column:
    """drain.go:87 + the t.-prefix override at drain.go:103-105."""
    return F.when(role.startswith(S.TOKEN_PREFIX), role).otherwise(conv_id)


def msg_class_expr(role: Column, tool: Column, text: Column, token: Column) -> Column:
    is_heroku_path = (role == S.HEROKU_NAME) | role.startswith(S.TOKEN_PREFIX)
    router_branch = (
        F.when(text.contains(S.SENTINEL_CODE_H), S.CLS_ROUTER_ERROR)
        .when(
            text.contains(S.SENTINEL_CODE_BLANK) | text.contains(S.SENTINEL_DESC_BLANK),
            S.CLS_ROUTER_BLANK,
        )
        .otherwise(S.CLS_ROUTER)
    )
    dyno_branch = (
        F.when(text.startswith(S.SENTINEL_DYNO_ERROR), S.CLS_DYNO_ERROR)
        .when(text.contains(S.SENTINEL_DYNO_MEM), S.CLS_DYNO_MEM)
        .when(text.contains(S.SENTINEL_DYNO_LOAD), S.CLS_DYNO_LOAD)
        .otherwise(S.CLS_UNKNOWN_HEROKU)
    )
    return (
        F.when(token.isNull() | (token == ""), S.CLS_TOKEN_MISSING)
        .when(~is_heroku_path, S.CLS_UNKNOWN_USER)
        .when(tool == "router", router_branch)
        .otherwise(dyno_branch)
    )


def classify(df: DataFrame) -> DataFrame:
    """transcripts → + (token, msg_class, time µs) columns.

    ``time`` is int64 microseconds since epoch (drain.go:129,
    t.UnixNano()/1000) — µs is Spark's native timestamp precision so
    ``unix_micros`` is exact.
    """
    token = effective_token(F.col("role"), F.col("conv_id"))
    return (
        df.withColumn("token", token)
        .withColumn("msg_class", msg_class_expr(F.col("role"), F.col("tool"), F.col("text"), F.col("token")))
        .withColumn("time", F.unix_micros(F.col("ts").cast("timestamp")))
    )


def encode_class(msg_class: Column) -> Column:
    """msg_class → its ``S.CLS_ID`` tinyint code (NULL for any other value):
    the class as 1 byte wherever it crosses a byte-counted boundary (the
    routing shuffle, the Arrow transfer into the parse UDF)."""
    code = F.lit(None).cast("tinyint")
    for c, i in S.CLS_ID.items():
        code = F.when(msg_class == c, i).otherwise(code)
    return code


def decode_class(code: Column) -> Column:
    """The inverse of encode_class."""
    msg_class = F.lit(None).cast("string")
    for c, i in S.CLS_ID.items():
        msg_class = F.when(code == i, c).otherwise(msg_class)
    return msg_class
