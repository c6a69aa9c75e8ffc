"""Deterministic synthetic transcripts table (FIXTURES.md §1).

Schema fixed by the BASELINE input_hint:
(conv_id string, turn_idx int, role string, text string, tool string,
 ts timestamp). Payload cells: base64 PDF bytes (tool='pdf'), raw HTML
(tool='html'), or plain chat text (tool=''). Seed=42; includes one giant
conversation (>=100x median turns) to exercise skew salting.
"""
from __future__ import annotations

import base64
import datetime
import os
import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
PAYLOAD_DIR = os.path.join(REPO, "fixtures", "payloads")
GOLDEN_DIR = os.path.join(REPO, "fixtures", "goldens")

SAMPLE_NAMES = [
    "simple1", "simple2", "simple3", "jo",
    "nonfree/dmca", "nonfree/f1040nr", "nonfree/i1040nr", "nonfree/kampo",
    "nonfree/naacl06-shinyama", "nonfree/nlp2004slides",
]

TRANSCRIPTS_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("turn_idx", T.IntegerType()),
    T.StructField("role", T.StringType()),
    T.StructField("text", T.StringType()),
    T.StructField("tool", T.StringType()),
    T.StructField("ts", T.TimestampType()),
])

_HTML_TEMPLATE = """<html><head><title>Doc {k}</title><style>body{{margin:0}}</style></head>
<body><nav class="top-nav"><a href="/">Home</a> <a href="/a">Section A</a> <a href="/b">Section B</a></nav>
<div class="sidebar"><ul><li><a href="/x">Link one</a></li><li><a href="/y">Link two</a></li></ul></div>
<article><h1>{title}</h1>
<p>{body}</p>
<p>{body2}</p></article>
<footer><a href="/about">About</a> | <a href="/tos">Terms of service</a> | copyright example</footer>
</body></html>"""

_CHAT_LINES = [
    "Sounds good, let me check the document.",
    "Here is the summary you asked for.",
    "Can you extract the text from the attachment?",
    "The pipeline finished without errors.",
    "Let me know if you need the layout boxes too.",
]

_ROLES = ["user", "assistant", "tool"]


def _load_payloads(payload_dir: str = PAYLOAD_DIR):
    out = []
    for name in SAMPLE_NAMES:
        with open(os.path.join(payload_dir, name + ".pdf"), "rb") as fp:
            out.append((name, base64.b64encode(fp.read()).decode("ascii")))
    return out


def _load_goldens(golden_dir: str = GOLDEN_DIR):
    out = {}
    for name in SAMPLE_NAMES:
        with open(os.path.join(golden_dir, name + ".txt.ref"), "rb") as fp:
            out[name] = fp.read().decode("utf-8")
    return out


def _html_payload(rng: random.Random, k: int) -> tuple[str, str]:
    """Returns (html, expected_main_text)."""
    title = "Synthetic document %d" % k
    body = " ".join("word%d" % rng.randrange(1000) for _ in range(24))
    body2 = " ".join("token%d" % rng.randrange(1000) for _ in range(18))
    html = _HTML_TEMPLATE.format(k=k, title=title, body=body, body2=body2)
    expected = "\n".join([title, body, body2])
    return (html, expected)


def build_transcript_rows(n_convs: int = 20, seed: int = 42,
                          giant_conv_turns: int = 0,
                          payload_dir: str = PAYLOAD_DIR,
                          golden_dir: str | None = GOLDEN_DIR):
    """Generate (rows, expected_rows). Deterministic for a given seed.

    ``giant_conv_turns``: if >0, conversation conv-0000 gets that many
    turns (the skew driver); others get 3-9 turns.
    """
    rng = random.Random(seed)
    payloads = _load_payloads(payload_dir)
    goldens = _load_goldens(golden_dir) if golden_dir else {}
    t0 = datetime.datetime(2026, 1, 1, 0, 0, 0)
    rows = []
    expected = []
    pdf_rr = 0
    for k in range(n_convs):
        conv_id = "conv-%04d" % k
        if k == 0 and giant_conv_turns:
            n_turns = giant_conv_turns
        else:
            n_turns = rng.randint(3, 9)
        for t in range(n_turns):
            role = _ROLES[t % 3]
            ts = t0 + datetime.timedelta(minutes=t)
            kind = rng.random()
            if kind < 0.45:
                (name, b64) = payloads[pdf_rr % len(payloads)]
                pdf_rr += 1
                rows.append((conv_id, t, role, b64, "pdf", ts))
                if name in goldens:
                    expected.append((conv_id, t, goldens[name]))
            elif kind < 0.70:
                (html, exp) = _html_payload(rng, k * 1000 + t)
                rows.append((conv_id, t, role, html, "html", ts))
                expected.append((conv_id, t, exp))
            else:
                text = _CHAT_LINES[rng.randrange(len(_CHAT_LINES))]
                rows.append((conv_id, t, role, text, "", ts))
                expected.append((conv_id, t, text))
    return (rows, expected)


def build_transcripts(spark: SparkSession, n_convs: int = 20, seed: int = 42,
                      giant_conv_turns: int = 0) -> DataFrame:
    (rows, _) = build_transcript_rows(n_convs, seed, giant_conv_turns)
    return spark.createDataFrame(rows, TRANSCRIPTS_SCHEMA)


EXPECTED_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("turn_idx", T.IntegerType()),
    T.StructField("expected_text", T.StringType()),
])


def build_expected(spark: SparkSession, n_convs: int = 20, seed: int = 42,
                   giant_conv_turns: int = 0) -> DataFrame:
    (_, expected) = build_transcript_rows(n_convs, seed, giant_conv_turns)
    return spark.createDataFrame(expected, EXPECTED_SCHEMA)
