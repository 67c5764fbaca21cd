"""spark-submit entry point for the batch pipeline.

  spark-submit --master <cluster> --py-files lumbermill_spark.zip \
      scripts/run_pipeline.py --input <transcripts_dir> --out <out_dir> \
      [--parser pandas|native|native_fast] [--sink parquet|noop] [--chunk-files N] \
      [--resume] [--buckets 16] [--salts 8]

Prints a one-line JSON run report (rows in, per-sink rows, class counts,
seconds, chunks) — the batch twin of the reference daemon's metrics export
(main.go:134-143).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--parser", default="pandas")
    ap.add_argument("--sink", default="parquet", choices=["parquet", "noop"])
    ap.add_argument("--chunk-files", type=int, default=None)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--buckets", type=int, default=16)
    ap.add_argument("--salts", type=int, default=8)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from lumbermill_spark import pipeline

    spark = SparkSession.builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    cfg = pipeline.PipelineConfig(
        parser=args.parser,
        sink_format=args.sink,
        n_buckets=args.buckets,
        n_salts=args.salts,
        chunk_files=args.chunk_files,
    )
    res = pipeline.run(spark, args.input, args.out, cfg, resume=args.resume)
    print(
        json.dumps(
            {
                "rows_in": res.rows_in,
                "sink_rows": res.sink_rows,
                "class_counts": res.class_counts,
                "seconds": round(res.seconds, 3),
                "chunks": res.chunks,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
