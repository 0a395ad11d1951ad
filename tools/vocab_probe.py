#!/usr/bin/env python
"""Vocabulary-attribution probe for the two super-linear shuffle rows
(VERDICT r09 #4): SCALE.md attributes `dedup_containment`'s 28.2x and
`dedup_minhash_estimate_accuracy`'s 26.9x candidate-pair shuffle growth
(at 10x documents) to the SYNTHETIC 31-word vocabulary's shingle
collision density, not to the algorithms. This probe tests that
attribution directly on the quantity the claim is about — the
CANDIDATE-PAIR COUNT (total shuffle bytes conflate it with the linear
inverted-index/signature streams, and localCheckpoints truncate what
the SQLMetrics walk can see): generate the same corpus shape at TWO
sizes (5k / 50k docs — a 10x decade) under TWO vocabulary widths (the
driver's 31 words, and 10x = 310 words), and count each query's
candidate pairs across the decade at each width.

If the attribution is right, the cross-decade candidate ratio
collapses toward the data ratio (~10x) as the vocabulary widens —
word-5-gram space grows from 31^5 ≈ 2.9e7 to 310^5 ≈ 2.9e12, so
accidental shingle collisions (and with them candidates that grow
~df^2 per shingle/bucket) vanish and only the planted structure
remains. If it were ALGORITHMIC super-linearity, the ratio would stay
~28x regardless of vocabulary.

Candidate sources: `dedup_minhash_estimate_accuracy` already OUTPUTS
n_candidates (the banding pairs); containment candidates are counted
with the query's own stages (dup_corpus -> distinct word-5-gram
shingles -> stop-shingle cap df>50 -> inverted-index self-join), the
exact pipeline of queries/dedup.py:dedup_containment.

Corpus shape matches tools/gen_synth_decade.py's documents table
(PCG64(42), uniform 10..100 words/doc); perf-only, never used for
correctness oracles. Results are appended to SCALE.md by hand.

Usage: python tools/vocab_probe.py           (fixed-width 2×2 grid)
       python tools/vocab_probe.py --heaps   (Heaps'-law decade:
       vocabulary grows ∝ n_docs^0.5, V=100→316 — VERDICT r10 #3)
(quiet box — the 50k corpora broadcast verify frames that OOM the
driver when a second Spark JVM holds half the box)
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from sales_agent_graphdb_spark.registry import all_queries  # noqa: E402
from sales_agent_graphdb_spark.session import get_spark  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BASE = os.path.join(REPO, ".scratch", "synthvocab")
VERSION = 2

# The driver testdata's 31-word vocabulary (gen_synth_decade.VOCAB).
VOCAB31 = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window",
]

SIZES = [5_000, 50_000]
WIDTHS = [31, 310]

# --heaps mode (VERDICT r10 #3): real corpora do not hold vocabulary
# fixed as they grow — Heaps' law gives V ∝ N_tokens^β, β ≈ 0.4–0.6.
# The r10 probe proved banding candidates are quadratic at ANY fixed
# vocabulary (≈97×/decade at widths 31 and 310) and argued real
# corpora escape via vocabulary growth; this mode measures that
# escape on one decade where the vocabulary grows with the corpus:
# V(5k docs) = 100, V(50k docs) = 100·√10 ≈ 316 character-diverse
# words. If the Heaps' argument is right, the banding candidate ratio
# falls from ≈97× toward the 10× data ratio.
HEAPS_BETA = 0.5  # default; override with `--heaps 0.75` etc. — more
HEAPS_W0 = 100    # cells turn the escape into a monotone curve in β


def heaps_width(n_docs: int, beta: float = HEAPS_BETA) -> int:
    return int(round(HEAPS_W0 * (n_docs / SIZES[0]) ** beta))


def vocab(width: int) -> list[str]:
    if width == 31:
        return VOCAB31
    # Widen with CHARACTER-DIVERSE random words (seeded): the two
    # queries shingle differently — containment on WORD 5-grams,
    # the portable minhash on CHARACTER 5-grams of the normalized
    # text — so suffixed variants of the 31 base words ("data3x")
    # widen the word-gram space but barely move the char-gram space
    # (measured v1: containment candidates collapsed 94.6x -> 1.0x
    # while banding candidates didn't move). Random letter words
    # widen BOTH spaces.
    rng = np.random.Generator(np.random.PCG64(7))
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    out: list[str] = list(VOCAB31)
    seen = set(out)
    while len(out) < width:
        w = "".join(rng.choice(letters, int(rng.integers(4, 9))))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out[:width]


def gen_corpus(n_docs: int, width: int) -> str:
    out_dir = os.path.join(BASE, f"w{width}_n{n_docs}")
    stamp = os.path.join(out_dir, "_SYNTH_STAMP")
    want = json.dumps({"v": VERSION, "n": n_docs, "w": width})
    if os.path.exists(stamp) and open(stamp).read() == want:
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.Generator(np.random.PCG64(42))
    words_per_doc = rng.integers(10, 101, n_docs)
    v = np.array(vocab(width))
    flat = rng.integers(0, len(v), int(words_per_doc.sum()))
    texts, pos = [], 0
    for w in words_per_doc:
        texts.append(" ".join(v[flat[pos:pos + w]]))
        pos += w
    tbl = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": ["en"] * n_docs,
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    pq.write_table(tbl, os.path.join(out_dir, "documents.parquet"))
    with open(stamp, "w") as fh:
        fh.write(want)
    return out_dir


def containment_candidates(spark, sf_dir: str) -> int:
    """Candidate pairs of dedup_containment's inverted-index self-join
    (post stop-shingle cap, pre containment threshold) — the frame
    whose growth the SCALE.md super-linear row is about."""
    from sales_agent_graphdb_spark.functions import text as tk
    from sales_agent_graphdb_spark.queries.dedup import (
        _CONTAIN_MAX_DF,
        dup_corpus,
    )

    corpus = dup_corpus(spark, sf_dir)
    toks = corpus.select("doc_id", tk.alnum_tokens(F.col("text")).alias("t"))
    sh = (
        toks.select("doc_id", F.explode(tk.word_ngrams(F.col("t"), 5)).alias("g"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    big = (
        sh.groupBy("g")
        .agg(F.count(F.lit(1)).alias("dfreq"))
        .filter(F.col("dfreq") > _CONTAIN_MAX_DF)
        .select("g")
    )
    shf = sh.join(F.broadcast(big), "g", "left_anti")
    a, b = shf.alias("a"), shf.alias("b")
    return (
        a.join(
            b,
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id"), F.col("b.doc_id"))
        .groupBy("a.doc_id", "b.doc_id")
        .count()
        .count()
    )


def main() -> None:
    heaps = "--heaps" in sys.argv
    beta = HEAPS_BETA
    if heaps:
        i = sys.argv.index("--heaps")
        if i + 1 < len(sys.argv):
            try:
                beta = float(sys.argv[i + 1])
            except ValueError:
                pass
        cells = [(heaps_width(n, beta), n) for n in SIZES]
    else:
        cells = [(w, n) for w in WIDTHS for n in SIZES]
    qs = all_queries()
    spark = get_spark(app_name="vocab_probe", shuffle_partitions=32)
    rows = []
    for width, n in cells:
        sf_dir = gen_corpus(n, width)
        t0 = time.time()
        est = qs["dedup_minhash_estimate_accuracy"].fn(
            spark, sf_dir
        ).collect()[0]
        t1 = time.time()
        n_contain = containment_candidates(spark, sf_dir)
        t2 = time.time()
        row = {
            "width": width,
            "n_docs": n,
            "minhash_banding_candidates": est["n_candidates"],
            "minhash_planted": est["n_planted"],
            "containment_candidates": n_contain,
            "minhash_wall_sec": round(t1 - t0, 2),
            "containment_wall_sec": round(t2 - t1, 2),
        }
        rows.append(row)
        print(json.dumps(row))

    def ratio(lo, hi, k):
        return round(hi[k] / lo[k], 1) if lo[k] else None

    if heaps:
        lo, hi = rows[0], rows[1]
        print(json.dumps({
            "mode": f"heaps_beta_{beta}",
            "widths": [lo["width"], hi["width"]],
            "decade_minhash_candidate_ratio": ratio(
                lo, hi, "minhash_banding_candidates"),
            "decade_containment_candidate_ratio": ratio(
                lo, hi, "containment_candidates"),
        }))
        return
    for width in WIDTHS:
        lo = next(r for r in rows
                  if r["width"] == width and r["n_docs"] == SIZES[0])
        hi = next(r for r in rows
                  if r["width"] == width and r["n_docs"] == SIZES[1])
        print(json.dumps({
            "width": width,
            "decade_minhash_candidate_ratio": ratio(
                lo, hi, "minhash_banding_candidates"),
            "decade_containment_candidate_ratio": ratio(
                lo, hi, "containment_candidates"),
        }))


if __name__ == "__main__":
    main()
