"""Mimic the driver's correctness gate locally: run every queries() entry on
Spark and its oracle_sql() in DuckDB at the given sf dir, compare row count,
column names, and order-insensitive values.

Usage: python tools/selfcheck.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import math
import os
import sys

# this checkout's package, wherever the checkout lives
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402


def norm_cell(v):
    # Strict, driver-like normalization: floats keep full precision and stay
    # type-distinct from ints (a DuckDB HUGEINT->float64 12.0 vs Spark int64 12
    # is a MISMATCH — this exact dtype skew caused the round-1
    # lm_router_rollup hash failure).
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if hasattr(v, "timestamp"):  # datetime
        return v.isoformat()
    try:
        import decimal

        if isinstance(v, decimal.Decimal):
            return repr(float(v))
    except Exception:
        pass
    return v


def normalize(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return [cols[i] for i in order], out


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as E
    from lumbermill_spark import session

    E.SF_ORACLE_DIR = sf_dir
    spark = session.get_spark("selfcheck")
    spark.sparkContext.setLogLevel("ERROR")
    qs, os_ = E.queries(), E.oracle_sql()

    con = duckdb.connect()
    import glob
    import os as _os

    for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
        p = _os.path.join(sf_dir, t + ".parquet")
        if _os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            scols = df.columns
            srows = [tuple(r) for r in df.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures += 1
            continue
        if name not in os_:
            print(f"ok?  {name}: rows={len(srows)} (no oracle — rows-only)")
            continue
        try:
            res = con.execute(os_[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            failures += 1
            continue
        sc, sv = normalize(scols, srows)
        dc, dv = normalize(dcols, drows)
        if sc != dc:
            print(f"FAIL {name}: columns {sc} vs {dc}")
            failures += 1
            continue
        if len(sv) != len(dv):
            print(f"FAIL {name}: rowcount {len(sv)} vs {len(dv)}")
            failures += 1
            continue
        bad = [(a, b) for a, b in zip(sv, dv) if a != b]
        if bad:
            print(f"FAIL {name}: {len(bad)}/{len(sv)} mismatched rows; first: spark={bad[0][0]} duck={bad[0][1]}")
            failures += 1
        else:
            print(f"PASS {name}: rows={len(sv)}")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
