"""Generic interleaved A/B of one runtime-settable SQL conf on the parse
stage. Usage:
  taskset -c 0-31 python bench/ab_conf.py <conf> <valA,valB> [sf] [runs] [cores]
One session, the conf flipped per run (runtime-settable), strict A/B/A/B
interleaving so host drift hits both arms equally; medians + raws printed.
The Arrow batch-size A/B, for example:
  python bench/ab_conf.py spark.sql.execution.arrow.maxRecordsPerBatch 10000,20000"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def main() -> None:
    conf = sys.argv[1]
    vals = sys.argv[2].split(",")
    sf = float(sys.argv[3]) if len(sys.argv) > 3 else 1.0
    runs = int(sys.argv[4]) if len(sys.argv) > 4 else 3
    cores = int(sys.argv[5]) if len(sys.argv) > 5 else (os.cpu_count() or 8)

    from lumbermill_spark import classify, datagen, parse, session

    tpath = datagen.ensure_transcripts(sf)
    spark = session.get_spark("lm-ab-conf", master=f"local[{cores}]", shuffle_partitions=cores)
    spark.sparkContext.setLogLevel("ERROR")
    df = classify.classify(spark.read.parquet(tpath))

    def one() -> float:
        p = parse.with_parsed(df, "pandas").select("p.*")
        t0 = time.time()
        p.agg(
            F.sum("status"), F.sum("service"), F.sum(F.length("error_code")),
            F.sum(F.length("source")), F.sum("memory_rss"), F.sum("load_avg_1m"),
            F.sum(F.col("parse_error").cast("int")),
        ).collect()
        return round(time.time() - t0, 3)

    def median(xs):
        s = sorted(xs)
        m = len(s) // 2
        return s[m] if len(s) % 2 else round((s[m - 1] + s[m]) / 2, 3)

    results: dict[str, list[float]] = {v: [] for v in vals}
    for v in vals:  # warm both arms
        spark.conf.set(conf, v)
        one()
    for _ in range(runs):
        for v in vals:
            spark.conf.set(conf, v)
            results[v].append(one())
    print(json.dumps({
        "conf": conf, "sf": sf, "cores": cores,
        "arms": {v: {"runs": rs, "median_sec": median(rs)} for v, rs in results.items()},
    }))
    spark.stop()


if __name__ == "__main__":
    main()
