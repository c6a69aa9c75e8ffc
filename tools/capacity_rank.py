#!/usr/bin/env python3
"""Capacity points for the round-7 ranking operators.

pagerank is O(E) per iteration with a fixed iteration count, so wall
time must grow ~linearly in node count; bm25_scores is one tf shuffle
plus a broadcast join, so ~linear in corpus tokens. This probe runs
both at 1x and 10x (and pagerank at 100x — the graph needs only a
doc_id spine, so the 100x point is cheap) and records walls, so the
"scales" claim in COVERAGE.md is a measurement, not an extrapolation.

    SPARK_GRAFT_CAP_SIZES="5000 50000" python3 tools/capacity_rank.py

Writes one JSON line per (op, n). Run SOLO (phase-noise discipline,
BASELINE.md).
"""
from __future__ import annotations

import json
import os
import sys
import tempfile
import time

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REAL_SF = "/root/testdata/sf0.1"


def synth_docs_dir(n_docs: int) -> str:
    """Deterministic corpus with sf0.1's text marginals at any size
    (same recipe as capacity_10x.synth_dir, minus the planted dups and
    embeddings that ranking does not read)."""
    rng = np.random.RandomState(42)
    real = pd.read_parquet(f"{REAL_SF}/documents.parquet")
    vocab = sorted({w for t in real["text"] for w in t.split(" ") if w})
    lens = real["text"].str.split(" ").str.len().to_numpy()
    sources = real["source"].to_numpy()
    texts = [
        " ".join(np.asarray(vocab)[rng.randint(0, len(vocab), ln)])
        for ln in lens[rng.randint(0, len(lens), n_docs)]
    ]
    d = tempfile.mkdtemp(prefix="cap_rank_%d_" % n_docs)
    pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": "en",
        "source": sources[rng.randint(0, len(sources), n_docs)],
        "n_chars": [len(t) for t in texts],
    }).to_parquet(os.path.join(d, "documents.parquet"))
    return d


def spine_dir(n_nodes: int) -> str:
    """doc_id-only spine for pagerank's 100x point (column pruning means
    pagerank never reads text, so the spine is all it needs)."""
    d = tempfile.mkdtemp(prefix="cap_spine_%d_" % n_nodes)
    pd.DataFrame({"doc_id": np.arange(n_nodes, dtype=np.int64)}).to_parquet(
        os.path.join(d, "documents.parquet"))
    return d


def main() -> None:
    from pdfminer_spark.ops.ranking import bm25_scores, pagerank
    from pdfminer_spark.spark.session import get_spark

    sizes = [int(s) for s in os.environ.get(
        "SPARK_GRAFT_CAP_SIZES", "5000 50000").split()]
    spark = get_spark("capacity-rank", cpus=32, shuffle_partitions=32)
    # warm pass (codegen compile, Arrow init): one-time JVM costs must
    # not masquerade as the 1x wall
    warm = synth_docs_dir(1000)
    pagerank(spark, warm).count()
    bm25_scores(spark, warm).count()
    spark.catalog.clearCache()
    for n in sizes:
        sf = synth_docs_dir(n)
        t0 = time.time()
        pr = pagerank(spark, sf).count()
        t_pr = time.time() - t0
        print(json.dumps({"op": "pagerank", "n": n, "rows": pr,
                          "edges": 2 * n, "wall_s": round(t_pr, 2)}))
        t0 = time.time()
        bm = bm25_scores(spark, sf).count()
        t_bm = time.time() - t0
        print(json.dumps({"op": "bm25_scores", "n": n, "rows": bm,
                          "wall_s": round(t_bm, 2)}))
        spark.catalog.clearCache()
    # pagerank 100x on the doc_id spine (text never read)
    n100 = sizes[0] * 100
    sf = spine_dir(n100)
    t0 = time.time()
    pr = pagerank(spark, sf).count()
    t_pr = time.time() - t0
    print(json.dumps({"op": "pagerank", "n": n100, "rows": pr,
                      "edges": 2 * n100, "wall_s": round(t_pr, 2)}))
    spark.stop()


if __name__ == "__main__":
    main()
