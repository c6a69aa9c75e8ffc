#!/usr/bin/env python3
"""Cluster entry point: checkpointed extraction run over a transcripts table.

    python3 tools/make_pyfiles.py
    spark-submit --py-files dist/pdfminer_spark.zip jobs/extract_job.py \
        --input  <transcripts parquet/iceberg path> \
        --output <output dir> --run-id run-2026-08-16 [--buckets 4096] \
        [--pages N ...]

Re-running the same command resumes: buckets already in the lineage
checkpoint are skipped, and a run with none left starts no extraction.
The input is shuffled once, by bucket, so each bucket is written as one
file. On Iceberg deployments point --input at the table path and swap the
writes in pdfminer_spark/spark/lineage.py for
``writeTo(...).overwritePartitions()`` — layout and commit order are
identical.
"""
from __future__ import annotations

import argparse


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--run-id", required=True)
    ap.add_argument("--buckets", type=int, default=4096)
    ap.add_argument("--pages", type=int, nargs="*", default=None)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from pdfminer_spark.spark.lineage import run_extraction

    spark = SparkSession.builder.appName("pdfminer-spark-extract").getOrCreate()
    transcripts = spark.read.parquet(args.input)
    stats = run_extraction(
        spark, transcripts, args.output, args.run_id,
        num_buckets=args.buckets, page_numbers=args.pages,
    )
    print("run complete:", stats)
    spark.stop()


if __name__ == "__main__":
    main()
