#!/usr/bin/env python
"""spark-submit entry point: extract a transcripts table with lineage/resume.

  spark-submit --py-files pkg.zip scripts/run_extract.py \
      (--input /path/to/transcripts_parquet | --synthetic-convs N) \
      --output /path/to/out [--buckets 64]
"""

from __future__ import annotations

import argparse
import os

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--input", help="transcripts parquet path")
    src.add_argument("--synthetic-convs", type=int, help="generate N synthetic conversations")
    ap.add_argument("--output", required=True)
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument(
        "--checkpoint-dir",
        default=os.environ.get("SPARK_GRAFT_CKPT_DIR", ""),
        help="durable checkpoint storage (cluster profile); iterative "
        "operators pick reliable checkpoint() when set",
    )
    args = ap.parse_args()

    spark = SparkSession.builder.appName("tsr-extract").getOrCreate()
    if args.checkpoint_dir:
        spark.sparkContext.setCheckpointDir(args.checkpoint_dir)

    from tablestructurerec_spark.plans.lineage import run_with_lineage
    from tablestructurerec_spark.sources.synthetic import synth_transcripts
    from tablestructurerec_spark.sources.transcripts import read_transcripts

    if args.synthetic_convs is not None:
        transcripts = synth_transcripts(spark, args.synthetic_convs)
    else:
        transcripts = read_transcripts(spark, args.input)

    done = run_with_lineage(spark, transcripts, args.output, n_buckets=args.buckets)
    print(f"processed buckets: {done}")


if __name__ == "__main__":
    main()
