"""Checkpointed extraction runs: per-partition lineage + idempotent resume.

north_rule requirement (no reference analog — SURVEY.md §2.8, §7 phase 8):
at 10^12-turn scale a job must resume mid-run. Design:

- every turn gets a deterministic bucket ``pk = xxhash64(conv_id, turn_idx)
  mod num_buckets`` — content-derived, so a re-run assigns identical
  buckets regardless of cluster size or input split order;
- pk is the run's only key: the input is repartitioned by pk before the
  extraction UDF, so each bucket is extracted by one task and written as
  one file (hashing turn_idx spreads a giant conversation over buckets);
- output parquet is partitioned by pk with dynamic partition overwrite, so
  re-processing a bucket replaces (never duplicates) its output;
- after output commit, one lineage row per pk is appended to the checkpoint
  table: (run_id, pk, conv_id_min/max, turn_count, bytes_decoded, checksum,
  ts). checksum is content-derived (sum of per-row xxhash64 mod 2^64:
  order-independent, but a duplicated row changes it), so a resume can
  verify prior buckets without recomputing them;
- resume is decided on the driver: the pks in the lineage are subtracted
  from the input's pks (each set at most num_buckets ints), and a run with
  nothing left returns before any extraction is planned.

On a real deployment both tables are Iceberg (``writeTo(...).append()`` /
``overwritePartitions()``); plain parquet here carries the same layout and
commit ordering.
"""
from __future__ import annotations

import os
from decimal import Decimal

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .pipeline import extract_transcripts

LINEAGE_SCHEMA = T.StructType([
    T.StructField("run_id", T.StringType()),
    T.StructField("pk", T.IntegerType()),
    T.StructField("conv_id_min", T.StringType()),
    T.StructField("conv_id_max", T.StringType()),
    T.StructField("turn_count", T.LongType()),
    T.StructField("bytes_decoded", T.LongType()),
    T.StructField("checksum", T.StringType()),
    T.StructField("ts", T.TimestampType()),
])


def with_bucket(df: DataFrame, num_buckets: int) -> DataFrame:
    return df.withColumn(
        "pk", F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(num_buckets))
    )


def lineage_of(extracted_with_pk: DataFrame, run_id: str) -> DataFrame:
    """One row per bucket; checksum is order-independent + content-derived.

    The row hashes are summed as decimals (a long sum overflows, which ANSI
    mode raises) and reduced mod 2^64, written as hex like an unsigned
    long."""
    row_hash = F.xxhash64("conv_id", "turn_idx", "text", "status")
    checksum = F.pmod(F.sum(row_hash.cast("decimal(20,0)")),
                      F.lit(Decimal(2 ** 64)))
    return (
        extracted_with_pk
        .groupBy("pk")
        .agg(
            F.min("conv_id").alias("conv_id_min"),
            F.max("conv_id").alias("conv_id_max"),
            F.count("*").alias("turn_count"),
            F.sum("bytes_decoded").alias("bytes_decoded"),
            F.conv(checksum.cast("string"), 10, 16).alias("checksum"),
        )
        .withColumn("run_id", F.lit(run_id))
        .withColumn("ts", F.current_timestamp())
        .select(*LINEAGE_SCHEMA.fieldNames())
    )


def run_extraction(spark: SparkSession, transcripts: DataFrame, out_dir: str,
                   run_id: str, num_buckets: int = 64, page_numbers=None,
                   fail_after_buckets: int | None = None) -> dict:
    """Execute (or resume) a checkpointed extraction run.

    ``fail_after_buckets`` processes only the first N outstanding buckets —
    the test hook that simulates a mid-run crash.
    Returns counters: {"processed_buckets": n, "skipped_buckets": m}, where
    m counts the input's buckets already in the lineage.
    """
    output_path = os.path.join(out_dir, "extracted")
    lineage_path = os.path.join(out_dir, "lineage")
    src = with_bucket(transcripts, num_buckets)
    input_pks = {r.pk for r in src.select("pk").distinct().collect()}
    # asked of Spark, not os.path, so an hdfs:// or file:// output resumes
    # too; the explicit schema reads a table holding only an uncommitted
    # _temporary/ as empty, and a corrupt file fails the run instead of
    # silently reprocessing every bucket
    try:
        lineage = spark.read.schema(LINEAGE_SCHEMA).parquet(lineage_path)
    except AnalysisException as exc:
        if exc.getCondition() != "PATH_NOT_FOUND":  # else: first run
            raise
        done = set()
    else:
        done = {r.pk for r in lineage.select("pk").distinct().collect()}
    todo = sorted(input_pks - done)[:fail_after_buckets]
    stats = {"processed_buckets": len(todo),
             "skipped_buckets": len(input_pks & done)}
    if not todo:
        return stats
    bucketed = (src.filter(F.col("pk").isin(todo))
                .repartition("pk").drop("pk"))
    extracted = with_bucket(
        extract_transcripts(bucketed, page_numbers=page_numbers,
                            repartition=False),
        num_buckets)
    # commit order: output partitions first, lineage second — a crash in
    # between re-runs those buckets and dynamic overwrite keeps it idempotent
    (extracted.write
     .mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("pk")
     .parquet(output_path))
    # lineage from the just-written buckets, read back so the checksum
    # reflects exactly what was committed; the isin on the partition
    # column prunes the scan to this run's pk= directories only
    this_run = (spark.read.parquet(output_path)
                .filter(F.col("pk").isin(todo)))
    lineage_of(this_run, run_id).write.mode("append").parquet(lineage_path)
    return stats


def read_extracted(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(out_dir, "extracted"))
