"""Spark-layer tests: extraction pipeline, turn ordering, lineage resume.

Correctness oracle: the vendored goldens (FIXTURES.md §3) joined per
(conv_id, turn_idx)."""
import os

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from pdfminer_spark.spark.fixtures import (TRANSCRIPTS_SCHEMA, build_expected,
                                           build_transcripts)
from pdfminer_spark.spark.lineage import (lineage_of, read_extracted,
                                          run_extraction, with_bucket)
from pdfminer_spark.spark.pipeline import (assemble_conversations,
                                           extract_transcripts,
                                           with_turn_order)

N_CONVS = 8


@pytest.fixture(scope="module")
def extracted(spark):
    df = build_transcripts(spark, n_convs=N_CONVS)
    out = extract_transcripts(df, page_numbers=[0]).cache()
    yield out
    out.unpersist()


def test_per_turn_text_equality(spark, extracted):
    exp = build_expected(spark, n_convs=N_CONVS)
    joined = extracted.join(exp, ["conv_id", "turn_idx"], "inner")
    assert joined.count() == extracted.count()
    assert joined.filter(F.col("text") != F.col("expected_text")).count() == 0
    assert extracted.filter(F.col("status") != "ok").count() == 0


def test_turn_ordering_window(spark, extracted):
    ranked = with_turn_order(extracted)
    # row_number over (conv_id, turn_idx) is dense + ordered per conv
    bad = (ranked.groupBy("conv_id")
           .agg(F.count("*").alias("n"), F.max("turn_rank").alias("mx"))
           .filter(F.col("n") != F.col("mx")).count())
    assert bad == 0


def test_assemble_conversations(spark, extracted):
    docs = assemble_conversations(extracted)
    assert docs.count() == N_CONVS
    row = docs.filter(F.col("conv_id") == "conv-0000").first()
    # doc text is the turn texts joined in turn order
    turns = (extracted.filter(F.col("conv_id") == "conv-0000")
             .orderBy("turn_idx").select("text").collect())
    assert row.doc_text == "\n".join(t.text for t in turns)


def test_poison_payload_yields_status_not_failure(spark):
    rows = [("c1", 0, "user", "aGVsbG8=", "pdf", None),  # not a pdf
            ("c1", 1, "user", "plain text", "", None)]
    df = spark.createDataFrame(rows, TRANSCRIPTS_SCHEMA)
    out = extract_transcripts(df, repartition=False).collect()
    by_idx = {r.turn_idx: r for r in out}
    assert by_idx[0].status.startswith("error:")
    assert by_idx[0].text == ""
    assert by_idx[1].status == "ok"


def test_lineage_resume(spark, tmp_path):
    out_dir = str(tmp_path / "run")
    df = build_transcripts(spark, n_convs=N_CONVS)
    r1 = run_extraction(spark, df, out_dir, "run-a", num_buckets=8,
                        page_numbers=[0], fail_after_buckets=3)
    assert r1["processed_buckets"] == 3
    r2 = run_extraction(spark, df, out_dir, "run-b", num_buckets=8,
                        page_numbers=[0])
    assert r2["skipped_buckets"] == 3
    ext = read_extracted(spark, out_dir)
    assert ext.count() == df.count()
    dups = (ext.groupBy("conv_id", "turn_idx").count()
            .filter("count > 1").count())
    assert dups == 0
    # idempotent full rerun
    r3 = run_extraction(spark, df, out_dir, "run-c", num_buckets=8,
                        page_numbers=[0])
    assert r3["processed_buckets"] == 0
    assert read_extracted(spark, out_dir).count() == df.count()
    # a no-op rerun under a reused run id counts only its own work, and
    # writes neither output nor lineage
    lineage_rows = spark.read.parquet(os.path.join(out_dir, "lineage")).count()
    files = _files(os.path.join(out_dir, "extracted"))
    r4 = run_extraction(spark, df, out_dir, "run-b", num_buckets=8,
                        page_numbers=[0])
    assert r4 == {"processed_buckets": 0, "skipped_buckets": 8}
    assert (spark.read.parquet(os.path.join(out_dir, "lineage")).count()
            == lineage_rows)
    assert _files(os.path.join(out_dir, "extracted")) == files


def _files(root):
    return {os.path.relpath(os.path.join(d, n), root)
            for (d, _, names) in os.walk(root) for n in names}


def _chat_turns(spark, n=200):
    rows = [("conv-%d" % (i % 5), i // 5, "user", "turn %d body" % i, "", None)
            for i in range(n)]
    return spark.createDataFrame(rows, TRANSCRIPTS_SCHEMA)


def test_lineage_checksum_detects_duplicate_turn(spark):
    rows = [("conv-%d" % (i % 3), i, "turn %d" % i, "ok", 6, 0)
            for i in range(12)]
    schema = ("conv_id string, turn_idx int, text string, status string, "
              "bytes_decoded long, pk int")
    df = spark.createDataFrame(rows, schema)
    once = df.filter("turn_idx = 4")
    # the same turn written two extra times: a bit_xor of the row hashes
    # would cancel the copies
    (plain,) = lineage_of(df, "r").collect()
    (dup,) = lineage_of(df.union(once).union(once), "r").collect()
    (shuffled,) = lineage_of(df.orderBy(F.rand(7)).repartition(3),
                             "r").collect()
    assert dup.checksum != plain.checksum
    assert shuffled.checksum == plain.checksum  # order-independent
    assert int(plain.checksum, 16) < 2 ** 64


def test_lineage_with_only_temporary_reads_as_nothing_done(spark, tmp_path):
    # a crash during the first lineage commit leaves only _temporary/;
    # schema inference would raise on it, the lineage schema reads it empty
    out_dir = tmp_path / "run"
    attempt = (out_dir / "lineage" / "_temporary" / "0" / "_temporary"
               / "attempt_0000_m_000000_0")
    attempt.mkdir(parents=True)
    (attempt / "part-00000.snappy.parquet").write_bytes(b"uncommitted")
    df = _chat_turns(spark)
    buckets = with_bucket(df, 4).select("pk").distinct().count()
    r = run_extraction(spark, df, str(out_dir), "run-a", num_buckets=4)
    assert r == {"processed_buckets": buckets, "skipped_buckets": 0}
    assert read_extracted(spark, str(out_dir)).count() == df.count()
    lineage = spark.read.parquet(str(out_dir / "lineage"))
    assert lineage.count() == buckets


def test_resume_through_uri_output(spark, tmp_path):
    out_dir = "file://" + str(tmp_path / "run")
    df = _chat_turns(spark)
    run_extraction(spark, df, out_dir, "run-a", num_buckets=4,
                   fail_after_buckets=2)
    r = run_extraction(spark, df, out_dir, "run-b", num_buckets=4)
    assert r["skipped_buckets"] == 2


def test_corrupt_lineage_fails_the_run(spark, tmp_path):
    out_dir = str(tmp_path / "run")
    df = _chat_turns(spark)
    run_extraction(spark, df, out_dir, "run-a", num_buckets=4,
                   fail_after_buckets=2)
    with open(os.path.join(out_dir, "lineage", "part-99999.snappy.parquet"),
              "wb") as fp:
        fp.write(b"not a parquet file")
    files = _files(os.path.join(out_dir, "extracted"))
    # unreadable lineage must not read as "nothing done" and redo every bucket
    with pytest.raises(Py4JJavaError, match="FAILED_READ_FILE"):
        run_extraction(spark, df, out_dir, "run-b", num_buckets=4)
    assert _files(os.path.join(out_dir, "extracted")) == files


def test_one_file_per_bucket(spark, tmp_path):
    # with coalescing off every shuffle partition is a task, so a bucket
    # split over tasks would be written as several files
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        run_extraction(spark, _chat_turns(spark), str(tmp_path / "run"),
                       "run-a", num_buckets=8)
    finally:
        spark.conf.set(key, old)
    extracted = tmp_path / "run" / "extracted"
    parts = {d.name: [f for f in d.iterdir() if f.name.startswith("part-")]
             for d in extracted.iterdir() if d.name.startswith("pk=")}
    assert len(parts) == 8
    assert all(len(files) == 1 for files in parts.values()), parts
