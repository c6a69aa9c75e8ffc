"""Seeded input generator for the extraction benchmark.

Each workload function builds one workload's transcripts table in driver
memory: the rows, in the paper schema ``(conv_id, turn_idx, role, text,
tool, ts)``, with PDF payloads referenced by sample index (the base64 text
is attached Spark-side by a broadcast join, see ``frame``), plus the MD5
of the text every turn must extract to. The same seed gives the same
rows.

The seed decides the content: the words of every HTML and chat turn,
and so every expected text. The layout is fixed per workload and size:
which turn carries which kind of payload, which PDF sample sits at each
PDF turn (round-robin over the ten samples, in a fixed shuffled order),
and how turns group into conversations. The layout decides how the
program's salted repartition and AQE's coalescing cut the input into
tasks, and with four to five UDF tasks on four cores that cut alone moved
mixed_p0 between 57 and 81 turns/s across seeds; a seeded layout would
measure the partition lottery rather than the program. The traced run's
``spark.pipeline.task_skew`` and ``core_idle_share`` report how uneven
the fixed cut is.
"""
from __future__ import annotations

import base64
import datetime
import hashlib
import os
import random
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PAYLOAD_DIR = os.path.join(ROOT, "fixtures", "payloads")
GOLDEN_DIR = os.path.join(ROOT, "fixtures", "goldens")

# the ten pdfminer samples the repository vendors, with their
# `-p1 -V` text goldens
SAMPLES = [
    "simple1", "simple2", "simple3", "jo",
    "nonfree/dmca", "nonfree/f1040nr", "nonfree/i1040nr", "nonfree/kampo",
    "nonfree/naacl06-shinyama", "nonfree/nlp2004slides",
]

ROLES = ("user", "assistant", "tool")
T0 = datetime.datetime(2026, 1, 1)

_WORDS = (
    "spark extraction layout glyph stream parser font table page scan "
    "shuffle partition worker batch arrow column window bucket lineage "
    "resume commit parquet schema turn conversation payload golden text "
    "box line char vertical horizontal reading order cache driver task"
).split()

# chrome (nav, sidebar, footer) around an article of three blocks; the
# boilerplate stripper keeps exactly the three article blocks
_HTML = (
    "<html><head><title>{title}</title><style>p{{margin:0}}</style></head>"
    "<body><nav class=\"top-nav\"><a href=\"/\">Home</a> "
    "<a href=\"/{a}\">{a}</a> <a href=\"/{b}\">{b}</a></nav>"
    "<div class=\"sidebar\"><ul><li><a href=\"/x\">{a} index</a></li>"
    "<li><a href=\"/y\">{b} archive</a></li></ul></div>"
    "<article><h1>{title}</h1>\n<p>{p1}</p>\n<p>{p2}</p></article>"
    "<footer><a href=\"/about\">About</a> | <a href=\"/tos\">Terms</a>"
    "</footer></body></html>"
)


@dataclass
class Workload:
    rows: list            # (conv_id, turn_idx, role, text, tool, ts, sample)
    expected: dict        # (conv_id, turn_idx) -> md5 hex of the text
    page_numbers: list | None

    @property
    def n_turns(self) -> int:
        return len(self.rows)


def md5_hex(text: str) -> str:
    return hashlib.md5(text.encode("utf-8")).hexdigest()


def load_samples() -> dict:
    """name -> (pdf bytes, page-0 golden text)."""
    out = {}
    for name in SAMPLES:
        with open(os.path.join(PAYLOAD_DIR, name + ".pdf"), "rb") as fp:
            data = fp.read()
        with open(os.path.join(GOLDEN_DIR, name + ".txt.ref"), "rb") as fp:
            golden = fp.read().decode("utf-8")
        out[name] = (data, golden)
    return out


def payload_table(samples: dict) -> list:
    """(sample index, base64 text) rows for the broadcast side."""
    return [(i, base64.b64encode(samples[name][0]).decode("ascii"))
            for (i, name) in enumerate(SAMPLES)]


def _sentence(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(_WORDS) + str(rng.randrange(100))
                    for _ in range(n))


def _html(rng: random.Random) -> tuple[str, str]:
    title = "Report " + _sentence(rng, 3)
    p1 = _sentence(rng, rng.randint(16, 40))
    p2 = _sentence(rng, rng.randint(12, 30))
    html = _HTML.format(title=title, p1=p1, p2=p2,
                        a=rng.choice(_WORDS), b=rng.choice(_WORDS))
    return (html, "\n".join([title, p1, p2]))


def _kinds(rng: random.Random, n: int, shares: dict) -> list:
    """Exactly round(share * n) turns of each kind, in seeded order."""
    kinds = []
    for (kind, share) in shares.items():
        kinds += [kind] * round(share * n)
    kinds += ["chat"] * (n - len(kinds))
    kinds = kinds[:n]
    rng.shuffle(kinds)
    return kinds


def _conversations(rng: random.Random, n: int, giant: int,
                   lo: int, hi: int) -> list:
    """Conversation sizes summing to n; the first holds ``giant`` turns
    when giant > 0, the rest lo..hi turns each."""
    sizes = [giant] if giant else []
    left = n - giant
    while left > 0:
        k = min(rng.randint(lo, hi), left)
        sizes.append(k)
        left -= k
    return sizes


def _build(rng, kinds, sizes, pdf_order, pdf_text, page_numbers):
    """Rows for the layout (kinds, conversation sizes, PDF sample order)
    with HTML and chat content drawn from ``rng``."""
    rows = []
    expected = {}
    pos = 0
    n_pdf = 0
    for (c, size) in enumerate(sizes):
        conv_id = "conv-%05d" % c
        for t in range(size):
            kind = kinds[pos]
            pos += 1
            role = ROLES[t % 3]
            ts = T0 + datetime.timedelta(minutes=t)
            if kind == "pdf":
                sample = pdf_order[n_pdf]
                n_pdf += 1
                rows.append((conv_id, t, role, None, "pdf", ts, sample))
                expected[(conv_id, t)] = pdf_text[sample]
            elif kind == "html":
                (html, text) = _html(rng)
                rows.append((conv_id, t, role, html, "html", ts, None))
                expected[(conv_id, t)] = md5_hex(text)
            else:
                text = _sentence(rng, rng.randint(4, 20))
                rows.append((conv_id, t, role, text, "", ts, None))
                expected[(conv_id, t)] = md5_hex(text)
    return Workload(rows, expected, page_numbers)


def _pdf_order(rng: random.Random, n_pdf: int) -> list:
    order = [i % len(SAMPLES) for i in range(n_pdf)]
    rng.shuffle(order)
    return order


def mixed_p0(seed: int, n_turns: int, golden_md5: list) -> Workload:
    """45% PDF (page 0) / 25% HTML / 30% chat; 20% of turns in one
    giant conversation, the rest in conversations of 3-9 turns."""
    layout = random.Random("mixed_p0/%d" % n_turns)
    kinds = _kinds(layout, n_turns, {"pdf": 0.45, "html": 0.25})
    sizes = _conversations(layout, n_turns, n_turns // 5, 3, 9)
    order = _pdf_order(layout, kinds.count("pdf"))
    return _build(random.Random(seed), kinds, sizes, order, golden_md5, [0])


def pdf_full_docs(seed: int, copies: int, full_md5: list) -> Workload:
    """Every sample ``copies`` times, all pages, 2-4 turns per
    conversation."""
    n = copies * len(SAMPLES)
    layout = random.Random("pdf_full_docs/%d" % n)
    sizes = _conversations(layout, n, 0, 2, 4)
    order = _pdf_order(layout, n)
    return _build(random.Random(seed), ["pdf"] * n, sizes, order, full_md5,
                  None)


def chat_html(seed: int, n_turns: int) -> Workload:
    """45% HTML / 55% chat (the non-PDF part of the mixed workload), in
    conversations of 3-9 turns."""
    layout = random.Random("chat_html_checkpoint/%d" % n_turns)
    kinds = _kinds(layout, n_turns, {"html": 0.45})
    sizes = _conversations(layout, n_turns, 0, 3, 9)
    return _build(random.Random(seed), kinds, sizes, [], [], None)


def frame(spark, wl: Workload, payloads: list):
    """The workload's transcripts table as a DataFrame (not cached). Both
    sides cross to the JVM as Arrow batches, so no Python worker runs."""
    import pandas as pd
    from pyspark.sql import functions as F

    skeleton = pd.DataFrame(
        [r[:6] + (-1 if r[6] is None else r[6],) for r in wl.rows],
        columns=["conv_id", "turn_idx", "role", "text", "tool", "ts",
                 "sample"])
    skeleton["turn_idx"] = skeleton["turn_idx"].astype("int32")
    skeleton["sample"] = skeleton["sample"].astype("int32")
    sk = spark.createDataFrame(
        skeleton,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp, sample int")
    if not (skeleton["sample"] >= 0).any():
        return sk.drop("sample")
    pay = spark.createDataFrame(
        pd.DataFrame(payloads, columns=["sample", "payload"])
        .astype({"sample": "int32"}), "sample int, payload string")
    return (sk.join(F.broadcast(pay), "sample", "left")
            .select("conv_id", "turn_idx", "role",
                    F.coalesce("text", "payload").alias("text"),
                    "tool", "ts"))


def materialize(spark, wl: Workload, payloads: list):
    """The workload's transcripts table, cached and counted: the program
    reads only this DataFrame."""
    table = frame(spark, wl, payloads).cache()
    n = table.count()
    if n != wl.n_turns:
        raise RuntimeError("materialized %d rows, generated %d"
                           % (n, wl.n_turns))
    return table
