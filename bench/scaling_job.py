"""Scaling-efficiency job: the identical parse→enrich→route→aggregate
pipeline, run via spark-submit at two parallelism levels (the sandbox stand-in
for the north_rule's N vs 4N executor criterion — see BASELINE.md protocol).

Usage (via spark-submit so the run shape matches a real cluster submit):
  spark-submit --master local[8]  --py-files lumbermill_spark.zip bench/scaling_job.py <sf> <runs>
Prints one JSON line: {"cores": c, "turns": n, "runs": [sec...], "best_sec": s,
"turns_per_sec": t}
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf = float(sys.argv[1]) if len(sys.argv) > 1 else 0.1
    runs = int(sys.argv[2]) if len(sys.argv) > 2 else 3

    from pyspark.sql import SparkSession

    from lumbermill_spark import datagen, pipeline

    spark = SparkSession.builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    cores = spark.sparkContext.defaultParallelism

    tpath = datagen.ensure_transcripts(sf)
    n_turns = spark.read.parquet(tpath).count()

    def one_run(parser):
        cfg = pipeline.PipelineConfig(
            parser=parser,
            sink_format="noop",
            write_metrics=False,
        )
        t0 = time.time()
        pipeline.run(spark, tpath, "/tmp/lm_scaling_noop", cfg)
        return round(time.time() - t0, 3)

    def median(xs):
        s = sorted(xs)
        m = len(s) // 2
        return s[m] if len(s) % 2 else round((s[m - 1] + s[m]) / 2, 3)

    parsers = (sys.argv[3].split(",") if len(sys.argv) > 3 else ["pandas", "native"])
    warmups = int(os.environ.get("LUMBERMILL_WARMUPS", "2"))
    out = {"cores": cores, "turns": n_turns}
    for parser in parsers:
        # two warmups by default: JIT + codegen cache + python workers + OS
        # page cache — measured: the first post-warmup run still carries
        # ~1.5x residue with only one
        for _ in range(warmups):
            one_run(parser)
        secs = [one_run(parser) for _ in range(runs)]
        med = median(secs)
        out[parser] = {
            "runs": secs,
            "median_sec": med,
            "best_sec": min(secs),
            "turns_per_sec_median": round(n_turns / med, 1),
            "turns_per_sec_best": round(n_turns / min(secs), 1),
        }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
