#!/usr/bin/env python
"""Near-dup family scale + recall probe on a SALTED composed corpus
(VERDICT r10 item 1).

Round 10 found that the UNSALTED composed probe corpora were
token-aliased across build levels (270 of the C(1000,2) copy pairs at
x1000 were token-IDENTICAL), which inflated the true-pair count ~6.8x
and made q120's x1000 recall a degenerate closed-form 100.0%. With the
salted generator (bench/make_scaled_sf.py) every copy path applies a
level-unique token rename, so the corpus matches the declared
constant-dup-rate model: the ONLY true pairs are the within-copy images
of the source corpus's own pair set, and recall can be measured against
a floor whose near-threshold pairs actually exist.

Per probe dir this script:
  1. derives the closed-form truth = copies x |exact pair set of the
     SOURCE sf| (q121's inverted-index exact pipeline IS the oracle —
     complete for every threshold > 0, so the source count is exact);
  2. runs q111 / q120 / q121 / q148 with wall-clock timing
     (count()-action times: the pair count is the probe's payload, so
     the action is the measurement);
  3. splits found pairs into within-copy vs cross-copy by id block
     (copy index = doc_id // (src_max_doc_id + 1) — every composed
     level shifts by a multiple of the source block width);
  4. reports per-entry recall vs the derived truth. Cross-copy pairs
     on a salted corpus indicate generator aliasing and fail loudly.

Interpretation contract:
  - q121 is EXACT: recall must be 1.0 (it double-checks the derived
    truth, and zero cross-copy pairs certifies the salting).
  - q111 (24x4 banding) declared floor: P(miss | jac=0.8) ~ 3e-6;
    near 0.5 the per-pair miss is ~0.21, so its measured recall bounds
    the corpus's near-threshold mass from above.
  - q120 above-gate regime (32x3): declared floor ~0.986 at jac=0.5
    exactly, higher for the actual pair-jaccard mix. Measured recall
    >= 0.986 closes VERDICT r10 item 1.

Corpus caveat (measured 2026-08-16): the testdata documents table has
NO near-threshold pairs — its exact pair set has min jac = 0.8, where
the 32x3 banding's per-pair miss is ~1e-10 — so measured recall ~100%
on the salted corpus is the honest expectation at every scale, and the
declared ~0.986 floor at jac=0.5 is unobservable on it. The
``--planted-cert`` mode closes that gap: it builds a corpus of
synthetic pairs at jac = 0.5 / 0.5484 / 0.6 (token-prefix construction
gives EXACT trigram jaccard; c shared of s=48 shingles -> jac =
c/(2s-c)), plus above-gate filler, runs q120's above-gate MinHash
candidate stage + exact verify, and compares measured recall per level
against the closed-form banding model recall(j) = 1 - (1 - j^3)^32.

Usage:
  python bench/neardup_recall_probe.py <src_sf_dir> <probe_dir> <copies>
  python bench/neardup_recall_probe.py --planted-cert [pairs_per_level]
  # e.g. python bench/neardup_recall_probe.py /root/testdata/sf0.1 \
  #          /tmp/s4_scaleprobe/sf100 1000
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def planted_cert(pairs_per_level: int = 2000) -> None:
    """Measure q120's above-gate banding recall against the analytic
    model on pairs whose trigram jaccard is KNOWN by construction.

    Construction: each pair's A doc is 50 globally-unique tokens
    (s = 48 shingles); B shares A's first c+2 tokens and is fresh
    after, so shared shingles = c exactly (every trigram fully inside
    the shared prefix) and jac = c/(2s-c). c in {32, 34, 36} ->
    jac in {0.5, 0.548387, 0.6}. 20k one-shingle filler docs push the
    corpus over Q120_GATE_ROWS so the MinHash regime dispatches.
    Driver-side generation is ~6k short docs — a certification
    input, not a data path."""
    from s4_spark.queries.llm import (
        Q120_GATE_ROWS,
        _q120_minhash_candidates,
        _q120_verified_pairs,
    )
    from s4_spark.session import get_spark

    spark = get_spark(app_name="banding_recall_cert")
    S = 48  # shingles per doc (50 tokens)
    LEVELS = [32, 34, 36]  # shared shingles c -> jac = c/(2S-c)
    rows, pair_level = [], {}
    nxt = 0
    for lvl, c in enumerate(LEVELS):
        k = c + 2  # shared token prefix length
        for p in range(pairs_per_level):
            tag = f"{lvl}_{p}"
            a_toks = [f"pt_{tag}_a{i}" for i in range(S + 2)]
            b_toks = a_toks[:k] + [f"pt_{tag}_b{i}" for i in range(S + 2 - k)]
            rows.append((nxt, " ".join(a_toks)))
            rows.append((nxt + 1, " ".join(b_toks)))
            pair_level[nxt] = c
            nxt += 2
    filler_base = nxt
    planted = spark.createDataFrame(rows, "doc_id long, text string")
    filler = spark.range(Q120_GATE_ROWS).select(
        (F.col("id") + filler_base).alias("doc_id"),
        F.concat_ws(
            " ",
            F.concat(F.lit("fl_"), F.col("id"), F.lit("_a")),
            F.concat(F.lit("fl_"), F.col("id"), F.lit("_b")),
            F.concat(F.lit("fl_"), F.col("id"), F.lit("_c")),
        ).alias("text"),
    )
    docs = planted.unionByName(filler).repartition(32).cache()
    assert docs.count() > Q120_GATE_ROWS

    t0 = time.time()
    found = (
        _q120_verified_pairs(spark, docs, _q120_minhash_candidates(docs))
        .filter(F.col("id_b") == F.col("id_a") + 1)
        .filter(F.col("id_a") < filler_base)
        .select("id_a")
        .collect()
    )
    sec = round(time.time() - t0, 1)
    from collections import Counter

    hits = Counter(pair_level[r.id_a] for r in found)
    out = {"pairs_per_level": pairs_per_level, "sec": sec, "levels": {}}
    print(f"planted-cert: {sec}s, {len(found)} of {len(pair_level)} "
          f"planted pairs recovered", flush=True)
    for c in LEVELS:
        jac = c / (2 * S - c)
        model = 1.0 - (1.0 - jac**3) ** 32
        got = hits.get(c, 0) / pairs_per_level
        # binomial 4-sigma acceptance band around the model mean
        sigma = (model * (1 - model) / pairs_per_level) ** 0.5
        ok = abs(got - model) <= 4 * sigma + 1e-12
        out["levels"][f"jac={jac:.6f}"] = {
            "model_recall": round(model, 5),
            "measured_recall": round(got, 5),
            "sigma": round(sigma, 5),
            "within_4_sigma": ok,
        }
        print(f"  jac={jac:.4f}: measured={got:.4f} model={model:.4f} "
              f"(sigma={sigma:.4f}) {'OK' if ok else 'OUTSIDE 4-SIGMA'}",
              flush=True)
        assert ok, f"banding recall at jac={jac:.4f} outside the model band"
    print(json.dumps(out))


def main() -> None:
    if sys.argv[1] == "--planted-cert":
        planted_cert(int(sys.argv[2]) if len(sys.argv) > 2 else 2000)
        return
    src, probe, copies = sys.argv[1], sys.argv[2], int(sys.argv[3])
    only = set(sys.argv[4].split(",")) if len(sys.argv) > 4 else None

    from s4_spark.queries import REGISTRY
    from s4_spark.session import get_spark

    spark = get_spark(app_name="neardup_recall_probe")

    block = (
        spark.read.parquet(os.path.join(src, "documents.parquet"))
        .agg(F.max("doc_id"))
        .first()[0]
        + 1
    )

    # 1. exact truth per copy from the SOURCE corpus (q121 is complete)
    src_pairs = REGISTRY["q121_ngram_jaccard_exact"].fn(spark, src).count()
    truth = copies * src_pairs
    print(f"source exact pairs={src_pairs}  block={block}  "
          f"derived truth@x{copies * 10}={truth}", flush=True)

    out: dict[str, dict] = {
        "src": src, "probe": probe, "copies": copies,
        "src_pairs": src_pairs, "truth": truth, "entries": {},
    }

    def split_counts(pairs_df):
        # within-copy iff both ids fall in the same source-width block
        agg = pairs_df.select(
            (F.floor(F.col("id_a") / block) == F.floor(F.col("id_b") / block))
            .cast("int").alias("w")
        ).agg(F.sum("w").alias("within"), F.count("*").alias("total")).first()
        within = agg["within"] or 0
        return int(within), int(agg["total"]) - int(within)

    for name in (
        "q111_minhash_lsh_neardup",
        "q120_simhash_neardup",
        "q121_ngram_jaccard_exact",
    ):
        if only is not None and name not in only:
            continue
        t0 = time.time()
        within, cross = split_counts(REGISTRY[name].fn(spark, probe))
        sec = round(time.time() - t0, 1)
        recall = round(within / truth, 6) if truth else None
        out["entries"][name] = {
            "sec": sec, "within": within, "cross": cross, "recall": recall,
        }
        print(f"{name}: {sec}s within={within} cross={cross} "
              f"recall={recall}", flush=True)
        assert cross == 0, (
            f"{name} found {cross} cross-copy pairs on a salted corpus — "
            "generator aliasing regressed (bench/make_scaled_sf.py salt)"
        )

    # q148 consumes the pair list into clusters; row count is the
    # cluster-membership table — timed for the scaling row, recall is
    # inherited from q111's candidate stage.
    if only is not None and "q148_dedup_cluster_cc" not in only:
        print(json.dumps(out))
        return
    t0 = time.time()
    n148 = REGISTRY["q148_dedup_cluster_cc"].fn(spark, probe).count()
    out["entries"]["q148_dedup_cluster_cc"] = {
        "sec": round(time.time() - t0, 1), "rows": n148,
    }
    print(f"q148_dedup_cluster_cc: {out['entries']['q148_dedup_cluster_cc']['sec']}s "
          f"rows={n148}", flush=True)

    print(json.dumps(out))


if __name__ == "__main__":
    main()
