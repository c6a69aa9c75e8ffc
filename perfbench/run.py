#!/usr/bin/env python3
"""Extraction benchmark: one workload per invocation.

  python3 perfbench/run.py --workload mixed_p0 --seed 1 --seconds 10 --trace 0

Workloads (perfbench/README.md says why each was chosen):
  mixed_p0              45% PDF (page 0) / 25% HTML / 30% chat, one giant
                        conversation; extract_transcripts -> with_turn_order
  pdf_full_docs         PDF turns only, every page
  chat_html_checkpoint  HTML + chat through run_extraction: crash after
                        half the buckets, resume, idempotent rerun

``--trace 0`` times the program untraced and prints the end-to-end
metrics. ``--trace 1`` collects the per-layer metrics: Spark's status
store per pass, the checkpoint output, and a driver-side replay of the
payloads through each engine layer with spans around the calls.

Every timed output is checked turn by turn; any failure makes the
command exit 1. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
The full report (every sample, spans) goes to .perfbench_out/.
"""
from __future__ import annotations

import argparse
import functools
import json
import os
import shlex
import shutil
import signal
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import collect  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("mixed_p0", "pdf_full_docs", "chat_html_checkpoint")
SETUPS = 3             # set-ups per run; setup_s is their median
WARM_TURNS = 400       # HTML and chat turns of each set-up's warm-up
MIXED_TURNS = 300      # turns per mixed_p0 pass
FULL_COPIES = 2        # copies of each sample per pdf_full_docs pass
CHAT_TURNS = 12000     # turns per chat_html_checkpoint cycle
NUM_BUCKETS = 16       # run_extraction buckets; the crash keeps half
# timed passes (checkpoint cycles) a run keeps at least: mixed_p0 passes
# are short and its slowest task sets each one's time, so it needs many
# to settle; a checkpoint cycle is long and steadier
KEPT = {"mixed_p0": 6, "pdf_full_docs": 3, "chat_html_checkpoint": 2}
TRACE_KEPT = 3         # the traced run's stage metrics need fewer
REPLAY_HTML = 1000     # HTML turns replayed at most in the traced run
OUT_DIR = os.path.join(ROOT, ".perfbench_out")

E2E_UNITS = {"turns_per_s": "1/s", "setup_s": "s", "worker_rss_peak_mb": "MB"}
REPORT_UNITS = dict(E2E_UNITS, failed_share="share", scaling_eff="ratio",
                    resume_s="s", rerun_s="s")
LAYER_UNITS = {
    "pdf.document.self_s": "s", "pdf.document.pages": "count",
    "pdf.document.bytes": "bytes",
    "pdf.interp.self_s": "s", "pdf.interp.chars": "count",
    "pdf.layout.self_s": "s", "pdf.layout.boxes": "count",
    "pdf.layout.chars": "count",
    "pdf.extract.render_s": "s",
    "html.boilerplate.self_s": "s", "html.boilerplate.docs": "count",
    "spark.session.start_s": "s", "spark.session.warm_s": "s",
    "spark.pipeline.job_s": "s", "spark.pipeline.udf_stage_run_s": "s",
    "spark.pipeline.shuffle_bytes": "bytes", "spark.pipeline.tasks": "count",
    "spark.pipeline.failed_tasks": "count", "spark.pipeline.order_s": "s",
    "spark.pipeline.task_skew": "ratio",
    "spark.pipeline.core_idle_share": "share",
    "spark.lineage.crash_run_s": "s",
    "spark.lineage.buckets_processed": "count",
    "spark.lineage.buckets_skipped": "count",
    "spark.lineage.files_written": "count",
    "spark.lineage.bytes_written": "bytes",
    "spark.lineage.reprocessed_share": "share",
    "trace.untraced_s": "s", "trace.overhead_s": "s",
}


def summary(values: list) -> dict:
    """Median, the highest percentile with at least ten samples beyond
    it (none below 20 samples), and the count."""
    vals = sorted(values)
    out = {"median": statistics.median(vals), "n": len(vals)}
    if len(vals) >= 20:
        q = int(100 * (1 - 10 / len(vals)))
        out["p%d" % q] = statistics.quantiles(vals, n=100)[q - 1]
    return out


def contain(work: str) -> None:
    """Keep Spark, the JVM and Python's temp files inside ``work``. Must
    run before the first JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
        os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData",
        "-Djava.io.tmpdir=" + tmp]))
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf %s --conf spark.ui.showConsoleProgress=false pyspark-shell"
        % shlex.quote("spark.sql.warehouse.dir="
                      + os.path.join(work, "warehouse")))


class Jvm:
    """One Spark session at a time; ``stop(keep_jvm=False)`` also ends the
    JVM so the next ``start`` launches a fresh one."""

    def __init__(self):
        self.spark = None
        self.pid = None

    def start(self, cores: int):
        from pdfminer_spark.spark.session import get_spark
        from pyspark import SparkContext

        self.spark = get_spark("perfbench", cpus=cores)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.pid = SparkContext._gateway.proc.pid
        return self.spark

    def stop(self, keep_jvm: bool) -> None:
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if keep_jvm or gw is None:
            return
        left = collect.descendants(gw.proc.pid)
        gw.shutdown()
        gw.proc.stdin.close()   # the gateway exits on stdin EOF
        gw.proc.wait(timeout=60)
        collect.reap(left)
        SparkContext._gateway = None
        SparkContext._jvm = None
        self.pid = None


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 work: str):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.cores = len(os.sched_getaffinity(0))
        self.jvm = Jvm()
        self.samples = gen.load_samples()
        self.payloads = gen.payload_table(self.samples)
        self.golden_md5 = [gen.md5_hex(self.samples[n][1])
                           for n in gen.SAMPLES]
        self.attempted = 0
        self.failed = 0
        self.errors: list = []
        self.report: dict = {"workload": workload, "seed": seed,
                             "seconds": seconds, "trace": int(trace),
                             "cores": self.cores}
        self.spans = None

    # -- inputs ---------------------------------------------------------------
    def generate(self):
        w = self.workload
        if w == "mixed_p0":
            return gen.mixed_p0(self.seed, MIXED_TURNS, self.golden_md5)
        if w == "pdf_full_docs":
            return gen.pdf_full_docs(self.seed, FULL_COPIES, self.full_oracle)
        return gen.chat_html(self.seed, CHAT_TURNS)

    @functools.cached_property
    def full_oracle(self) -> list:
        """md5 of the driver-side ``extract_text`` of every sample, all
        pages; each text must start with the sample's page-0 golden."""
        from pdfminer_spark.pdf.extract import extract_text
        from pdfminer_spark.pdf.layout import LAParams

        la = LAParams(detect_vertical=True)
        md5s = []
        for name in gen.SAMPLES:
            (data, golden) = self.samples[name]
            text = extract_text(data, laparams=la)
            if not text.startswith(golden):
                raise RuntimeError("%s: driver-side text does not start with "
                                   "its page-0 golden" % name)
            md5s.append(gen.md5_hex(text))
        return md5s

    # -- checks ---------------------------------------------------------------
    def check(self, rows, wl, label: str, ranked: bool) -> None:
        """Count turns that failed: status not ok, text digest differs
        from the expected one, turn missing or duplicated, or (``ranked``)
        turn_rank not the turn's position in its conversation."""
        bad = set()
        seen = set()
        for r in rows:
            key = (r["conv_id"], r["turn_idx"])
            if (key in seen or r["status"] != "ok"
                    or wl.expected.get(key) != r["md5"]
                    or (ranked and r["turn_rank"] != r["turn_idx"] + 1)):
                bad.add(key)
            seen.add(key)
        bad |= set(wl.expected) - seen
        self.attempted += wl.n_turns
        self.failed += len(bad)
        if bad:
            self.errors.append("%s: %d of %d turns failed, e.g. %s"
                               % (label, len(bad), wl.n_turns,
                                  sorted(bad)[:3]))

    # -- set-up --------------------------------------------------------------
    def setup(self, cores: int, wl=None):
        """Session start + worker warm-up + input generation; returns
        (spark, table, workload, (start_s, warm_s, gen_s))."""
        t0 = time.perf_counter()
        spark = self.jvm.start(cores)
        t1 = time.perf_counter()
        self.warm(spark)
        t2 = time.perf_counter()
        wl = wl or self.generate()
        table = gen.materialize(spark, wl, self.payloads)
        t3 = time.perf_counter()
        return (spark, table, wl, (t1 - t0, t2 - t1, t3 - t2))

    def warm(self, spark) -> None:
        """Start one Python worker per core: WARM_TURNS HTML and chat
        turns through extract_transcripts without the repartition, so
        the table's ``cores`` slices run as one task each and every
        worker imports the engine. The JVM's paths for the workload's own
        plan, and the engine's font and CMap caches, warm up in the
        untimed first pass."""
        from pdfminer_spark.spark.pipeline import extract_transcripts
        from pyspark.sql import functions as F

        wl = gen.chat_html(self.seed, WARM_TURNS)
        rows = (extract_transcripts(gen.frame(spark, wl, self.payloads),
                                    repartition=False)
                .select("conv_id", "turn_idx", "status",
                        F.md5("text").alias("md5")).collect())
        self.check(rows, wl, "warm", ranked=False)

    # -- timed work -----------------------------------------------------------
    def read_pass(self, spark, table, wl, label: str,
                  stages: collect.StageCollector | None = None) -> dict:
        from pdfminer_spark.spark.pipeline import (
            extract_transcripts, with_turn_order,
        )
        from pyspark.sql import functions as F

        group = stages.start(label) if stages else None
        t0 = time.perf_counter()
        rows = (with_turn_order(extract_transcripts(
                    table, page_numbers=wl.page_numbers,
                    detect_vertical=True))
                .select("conv_id", "turn_idx", "turn_rank", "status",
                        F.md5("text").alias("md5"))
                .collect())
        wall = time.perf_counter() - t0
        self.check(rows, wl, label, ranked=True)
        out = {"wall_s": wall, "turns_per_s": wl.n_turns / wall,
               "md5": {(r["conv_id"], r["turn_idx"]): r["md5"] for r in rows}}
        if stages:
            out["pipeline"] = stages.pass_metrics([group], wall)
        return out

    def cycle(self, spark, table, wl, label: str,
              stages: collect.StageCollector | None = None,
              rerun: bool = False) -> dict:
        """Crash after half the buckets, resume and (``rerun``) rerun; then
        check the output holds every turn exactly once with the expected
        text."""
        from pdfminer_spark.spark.lineage import run_extraction
        from pyspark.sql import functions as F

        out_dir = os.path.join(self.work, "ckpt-" + label)
        half = NUM_BUCKETS // 2
        runs = [("crash", half, {"processed_buckets": half,
                                 "skipped_buckets": 0}),
                ("resume", None, {"processed_buckets": NUM_BUCKETS - half,
                                  "skipped_buckets": half})]
        if rerun:
            runs.append(("rerun", None, {"processed_buckets": 0,
                                         "skipped_buckets": NUM_BUCKETS}))
        groups = []
        t = [time.perf_counter()]
        counters = []
        for (run_id, fail_after, _) in runs:
            if stages:
                group = stages.start(label + "-" + run_id)
                if run_id != "rerun":
                    groups.append(group)
            counters.append(run_extraction(
                spark, table, out_dir, run_id=run_id, num_buckets=NUM_BUCKETS,
                fail_after_buckets=fail_after))
            t.append(time.perf_counter())
        want = [w for (_, _, w) in runs]
        if counters != want:
            self.errors.append("%s: bucket counters %s, expected %s"
                               % (label, counters, want))
            self.failed += 1
        rows = (spark.read.parquet(os.path.join(out_dir, "extracted"))
                .select("conv_id", "turn_idx", "status",
                        F.md5("text").alias("md5")).collect())
        self.check(rows, wl, label, ranked=False)
        lineage = spark.read.parquet(os.path.join(out_dir, "lineage"))
        extracted = sum(r["turn_count"] for r in lineage.filter(
            F.col("run_id").isin("crash", "resume")).collect())
        (files, size) = collect.tree_size(out_dir)
        shutil.rmtree(out_dir)
        res = {
            "crash_run_s": t[1] - t[0], "resume_s": t[2] - t[1],
            "turns_per_s": wl.n_turns / (t[2] - t[0]),
            "buckets_processed": sum(c["processed_buckets"] for c in counters),
            "buckets_skipped": sum(c["skipped_buckets"] for c in counters),
            "files_written": files, "bytes_written": size,
            "reprocessed_share": extracted / wl.n_turns,
            "md5": {(r["conv_id"], r["turn_idx"]): r["md5"] for r in rows},
        }
        if rerun:
            res["rerun_s"] = t[3] - t[2]
        if stages:
            res["pipeline"] = stages.pass_metrics(groups, t[2] - t[0])
        return res

    def passes(self, spark, table, wl, label: str, seconds: float,
               stages=None, least: int | None = None) -> list:
        """One pass (or checkpoint cycle) that is checked but not kept,
        while the JVM's compiler catches up on the workload's plan and
        the workers fill their caches, then timed passes until ``seconds``
        have gone, and at least ``least`` of them (by default KEPT, or
        at most TRACE_KEPT in a traced run). Only the first kept cycle
        adds the idempotent rerun."""
        cycles = self.workload == "chat_html_checkpoint"
        least = least or (min(KEPT[self.workload], TRACE_KEPT) if self.trace
                          else KEPT[self.workload])

        def one(name: str, rerun: bool) -> dict:
            if cycles:
                return self.cycle(spark, table, wl, name, stages, rerun)
            return self.read_pass(spark, table, wl, name, stages)

        one(label + "-warm", rerun=False)
        res: list = []
        end = time.perf_counter() + seconds
        while len(res) < least or time.perf_counter() < end:
            res.append(one("%s-%d" % (label, len(res)), rerun=not res))
            res[-1]["rss_mb"] = collect.worker_rss_peak_mb(self.jvm.pid)
        return res

    # -- the run --------------------------------------------------------------
    def run(self) -> dict:
        setups = []
        for k in range(SETUPS):
            if k:
                table.unpersist()
                self.jvm.stop(keep_jvm=True)
            (spark, table, wl, parts) = self.setup(self.cores)
            setups.append(parts)
        self.report["setup_parts_s"] = setups
        stages = (collect.StageCollector(spark, self.cores) if self.trace
                  else None)
        res = self.passes(spark, table, wl, "pass", self.seconds, stages)
        self.report["passes"] = [{k: v for (k, v) in r.items() if k != "md5"}
                                 for r in res]
        e2e = {
            "turns_per_s": summary([r["turns_per_s"] for r in res]),
            "setup_s": summary([sum(p) for p in setups]),
            "worker_rss_peak_mb": summary([max(r["rss_mb"] for r in res)]),
        }
        if self.workload == "chat_html_checkpoint":
            e2e["resume_s"] = summary([r["resume_s"] for r in res])
            e2e["rerun_s"] = summary([r["rerun_s"] for r in res
                                      if "rerun_s" in r])
        layers = {}
        if self.trace:
            layers = self.layer_metrics(setups, res)
            pipeline_md5 = res[-1]["md5"]
            table.unpersist()
            if self.workload == "mixed_p0":
                e2e["scaling_eff"] = self.scaling(
                    e2e["turns_per_s"]["median"], wl)
            self.jvm.stop(keep_jvm=False)
            layers.update(self.replay_layers(wl, pipeline_md5))
        e2e["failed_share"] = {"median": self.failed / self.attempted,
                               "n": self.attempted}
        self.report["end_to_end"] = e2e
        self.report["per_layer"] = layers
        return self.report

    def layer_metrics(self, setups, res) -> dict:
        med = statistics.median
        out = {
            "spark.session.start_s": med(p[0] for p in setups),
            "spark.session.warm_s": med(p[1] for p in setups),
        }
        for key in res[0]["pipeline"]:
            out["spark.pipeline." + key] = med(r["pipeline"][key]
                                               for r in res)
        for key in ("crash_run_s", "buckets_processed", "buckets_skipped",
                    "files_written", "bytes_written", "reprocessed_share"):
            out["spark.lineage." + key] = (med(r[key] for r in res)
                                           if key in res[0] else 0.0)
        return out

    def scaling(self, tps_n: float, wl) -> dict:
        """``tps_n`` (this run's turns_per_s at local[cores], in the JVM
        the run started) over cores x turns_per_s at local[1] on the same
        input, in a fresh JVM after one set-up: one timed pass after the
        untimed one, since a local[1] pass takes about 15 s."""
        self.jvm.stop(keep_jvm=False)
        (spark, table, wl, _) = self.setup(1, wl=wl)
        one = self.passes(spark, table, wl, "scale-1", 0, least=1)
        self.report["scaling_local1_passes"] = [
            {k: v for (k, v) in r.items() if k != "md5"} for r in one]
        tps_1 = statistics.median(r["turns_per_s"] for r in one)
        return {"median": tps_n / (self.cores * tps_1), "n": len(one)}

    def replay_layers(self, wl, pipeline_md5: dict) -> dict:
        """Replay one turn per distinct payload through the engine layers,
        alternating untraced and traced passes; check each replayed text
        against the pipeline's text for that turn."""
        import spans as sp

        items = []
        seen = set()
        for r in wl.rows:
            (conv_id, turn_idx, _, text, tool, _, sample) = r
            key = sample if tool == "pdf" else (conv_id, turn_idx)
            if tool == "" or key in seen:
                continue
            if tool == "html" and len(seen) >= REPLAY_HTML:
                continue
            seen.add(key)
            payload = (self.samples[gen.SAMPLES[sample]][0] if tool == "pdf"
                       else text)
            items.append(("%s/%d" % (conv_id, turn_idx), tool, payload,
                          wl.page_numbers))
        runs = [i[0] for i in items]
        texts = sp.replay(items)  # warm: fills the engine's module caches
        for (run, text) in zip(runs, texts):
            key = (run.rsplit("/", 1)[0], int(run.rsplit("/", 1)[1]))
            self.attempted += 1
            if gen.md5_hex(text) != pipeline_md5.get(key):
                self.failed += 1
                self.errors.append("replay %s: layer chain text differs "
                                   "from the pipeline's" % run)
        plain: list = []
        traced: list = []
        self_s: list = []
        end = time.perf_counter() + self.seconds
        while len(traced) < 3 or time.perf_counter() < end:
            t0 = time.perf_counter()
            sp.replay(items)
            plain.append(time.perf_counter() - t0)
            self.spans = sp.Spans()
            t0 = time.perf_counter()
            sp.replay(items, self.spans)
            traced.append(time.perf_counter() - t0)
            self_s.append(self.spans.self_seconds())
        med = statistics.median
        out = {"%s.%s" % (layer, "render_s" if layer == "pdf.extract"
                          else "self_s"):
               med(s.get(layer, 0.0) for s in self_s) for layer in sp.LAYERS}
        out.update({k: float(v) for (k, v) in self.spans.counts.items()})
        out["trace.untraced_s"] = med(plain)
        out["trace.overhead_s"] = med(traced) - med(plain)
        self.report["replay"] = {"items": len(items), "reps": len(traced),
                                 "untraced_s": plain, "traced_s": traced}
        return out


def print_report(rep: dict) -> None:
    print("perfbench %s seed=%d trace=%d local[%d]"
          % (rep["workload"], rep["seed"], rep["trace"], rep["cores"]))
    for (name, s) in rep["end_to_end"].items():
        extra = "".join(", %s %.6g" % (k, v) for (k, v) in s.items()
                        if k.startswith("p"))
        print("  %-20s %12.6g %-6s (median of %d%s)"
              % (name, s["median"], REPORT_UNITS[name], s["n"], extra))
    for (name, v) in rep["per_layer"].items():
        print("  %-34s %14.6g %s" % (name, v, LAYER_UNITS[name]))
    for err in rep["errors"]:
        print("  FAILED: " + err)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    work = os.path.join(ROOT, ".perfbench_work",
                        "%s-%d-%d" % (args.workload, args.seed, os.getpid()))
    # SIGTERM unwinds like an exception, so the JVM is stopped and the
    # work directory removed on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    contain(work)
    bench = None
    try:
        bench = Bench(args.workload, args.seed, args.seconds,
                      bool(args.trace), work)
        rep = bench.run()
    finally:
        try:
            if bench is not None:
                bench.jvm.stop(keep_jvm=False)
        finally:
            left = collect.reap(collect.descendants(os.getpid()))
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))
            except OSError:
                pass  # another run's directory is still there
    rep["attempted"] = bench.attempted
    rep["failed"] = bench.failed
    rep["errors"] = bench.errors + ["process %d would not stop" % p
                                    for p in left]
    correct = not rep["errors"]
    os.makedirs(OUT_DIR, exist_ok=True)
    stem = os.path.join(OUT_DIR, "%s-seed%d-trace%d"
                        % (args.workload, args.seed, args.trace))
    with open(stem + ".json", "w") as fp:
        json.dump(rep, fp, indent=1, default=str)
    if bench.spans is not None:
        bench.spans.dump(stem + ".spans.jsonl")
    print_report(rep)
    if args.trace:
        metrics = {k: {"value": rep["per_layer"].get(k, 0.0), "unit": u}
                   for (k, u) in LAYER_UNITS.items()}
    else:
        metrics = {k: {"value": rep["end_to_end"][k]["median"], "unit": u}
                   for (k, u) in E2E_UNITS.items()}
    print(json.dumps({"correct": correct, "attempted": bench.attempted,
                      "failed": bench.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
