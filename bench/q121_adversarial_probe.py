#!/usr/bin/env python
"""q121 adversarial-vocabulary dispatch probe — exercises the Σdf²
ceiling END-TO-END on the corpus class it exists for.

The r12 calibration showed the SALTED probe corpora keep Σ_s df(s)²
linear per decade (injective per-copy vocab rename holds df constant),
so they can never trip the 2e10 exact-arm ceiling; the dispatch to the
LSH-verified arm was pinned by unit tests only. This probe builds the
corpus the ceiling guards against and runs the REAL entry over it:

- BACKGROUND: N docs of W words drawn uniformly (xxhash64-keyed, fully
  deterministic) from a V-word vocabulary. Trigram-shingle space is V³;
  with N=2e6, W=60, V=75: |inv| = N*(W-2) = 116M shingle instances over
  V³ = 421,875 keys → per-shingle df ~ Poisson(λ=275), so
  Σdf² ≈ V³·(λ²+λ) ≈ 3.2e10 — ABOVE the 2e10 ceiling. The exact
  overlap-count arm would shuffle ~Σdf² 16-byte pair rows (~0.5 TB);
  the measured dispatch must route around it. Meanwhile expected
  overlap between two random docs is W²/V³ ≈ 0.008 shingles (jac ≈
  7e-5), so true near-dup pairs and 64-bit-banded LSH candidates both
  stay ~0: the corpus is adversarial ONLY through vocabulary
  concentration — exactly the regime the docstring declares.
- PLANTED: P=128 pairs sharing a 50-word prefix (48 of 58 trigrams
  shared → jac = 48/68 ≈ 0.706 ≥ 0.5 threshold; banding miss
  probability at jac=0.7 is (1-0.7³)³² ≈ 5e-6 per pair). These are the
  recall assertion: the dispatched arm must land every one.

Usage:
  python bench/q121_adversarial_probe.py --build <dir>   # write corpus
  python bench/q121_adversarial_probe.py --run <dir>     # probe entry

--run monkeypatches llm._q120_minhash_candidates with a call-counting
spy (the ONLY path into the LSH arm from q121), so the probe FAILS
loudly if the entry silently ran the exact arm; it prints one JSON line
with the measured Σdf², wall-clock, pair counts, and recall.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

N_BG = 2_000_000
WORDS = 60
VOCAB = 75
PLANTED = 128
SHARED_PREFIX = 50


def _vocab_arr():
    return F.array(*[F.lit(f"w{i:02d}") for i in range(VOCAB)])


def _word(stream: str, key_col, j):
    """Deterministic uniform word: vocab[xxhash64(stream, key*64+j) mod V]."""
    idx = F.pmod(F.xxhash64(F.lit(stream), key_col * F.lit(64) + j), F.lit(VOCAB))
    return F.element_at(_vocab_arr(), (idx + 1).cast("int"))


def build(spark, out: str) -> None:
    seq = F.sequence(F.lit(0), F.lit(WORDS - 1))
    bg = (
        spark.range(N_BG)
        .withColumnRenamed("id", "doc_id")
        .select(
            "doc_id",
            F.array_join(
                F.transform(seq, lambda j: _word("bg", F.col("doc_id"), j)), " "
            ).alias("text"),
        )
    )
    pl = spark.range(PLANTED).withColumnRenamed("id", "i")
    base = pl.select(
        (F.lit(N_BG) + F.col("i") * 2).alias("doc_id"),
        F.array_join(
            F.transform(seq, lambda j: _word("pl", F.col("i"), j)), " "
        ).alias("text"),
    )
    partner = pl.select(
        (F.lit(N_BG) + F.col("i") * 2 + 1).alias("doc_id"),
        F.array_join(
            F.transform(
                seq,
                lambda j: F.when(
                    j < SHARED_PREFIX, _word("pl", F.col("i"), j)
                ).otherwise(_word("alt", F.col("i"), j)),
            ),
            " ",
        ).alias("text"),
    )
    docs = (
        bg.unionByName(base)
        .unionByName(partner)
        .select(
            "doc_id",
            "text",
            F.lit("xx").alias("lang"),
            F.lit("adversarial_probe").alias("source"),
            F.length("text").alias("n_chars"),
        )
    )
    dst = os.path.join(out, "documents.parquet")
    docs.repartition(32).write.mode("overwrite").parquet(dst)
    print(f"built {spark.read.parquet(dst).count()} docs -> {dst}")


def run(spark, sf_dir: str) -> None:
    import s4_spark.queries.llm as L
    from s4_spark.queries import REGISTRY

    calls = []
    orig = L._q120_minhash_candidates

    def spy(docs):
        calls.append(1)
        return orig(docs)

    L._q120_minhash_candidates = spy
    try:
        t0 = time.monotonic()
        rows = REGISTRY["q121_ngram_jaccard_exact"].fn(spark, sf_dir).collect()
        wall = time.monotonic() - t0
    finally:
        L._q120_minhash_candidates = orig

    pairs = {(r["id_a"], r["id_b"]) for r in rows}
    want = {(N_BG + 2 * i, N_BG + 2 * i + 1) for i in range(PLANTED)}
    missed = want - pairs
    extras = pairs - want

    # independent Σdf² measurement (same aggregation the entry runs),
    # recorded so the SCALE.md row carries the number, not an estimate
    import s4_spark.operators.dedup as D

    inv = (
        D.shingles_exploded(
            spark.read.parquet(os.path.join(sf_dir, "documents.parquet")), "doc_id"
        )
        .select("doc_id", F.xxhash64("shingle").alias("s"))
        .distinct()
    )
    sum_df2 = (
        inv.groupBy("s")
        .agg(F.count("*").alias("d"))
        .agg(F.sum(F.col("d") * F.col("d")).alias("x"))
        .collect()[0]["x"]
    )

    out = {
        "probe": "q121_adversarial_dispatch",
        "docs": N_BG + 2 * PLANTED,
        "sum_df2": int(sum_df2),
        "ceiling": L.Q121_EXACT_MAX_SUM_DF2,
        "dispatched_to_lsh": bool(calls),
        "wall_sec": round(wall, 1),
        "pairs_found": len(pairs),
        "planted": PLANTED,
        "planted_missed": len(missed),
        "extras": len(extras),
    }
    print(json.dumps(out))
    if not calls:
        sys.exit("FAIL: entry ran the exact arm on an above-ceiling corpus")
    if sum_df2 <= L.Q121_EXACT_MAX_SUM_DF2:
        sys.exit(f"FAIL: corpus did not trip the ceiling (sum_df2={sum_df2})")
    if missed:
        sys.exit(f"FAIL: {len(missed)} planted pairs missed: {sorted(missed)[:5]}")


def main() -> None:
    import argparse

    ap = argparse.ArgumentParser()
    g = ap.add_mutually_exclusive_group(required=True)
    g.add_argument("--build", metavar="DIR")
    g.add_argument("--run", metavar="DIR")
    args = ap.parse_args()
    from s4_spark.session import get_spark

    spark = get_spark(app_name="q121_adversarial_probe")
    if args.build:
        build(spark, args.build)
    else:
        run(spark, args.run)


if __name__ == "__main__":
    main()
