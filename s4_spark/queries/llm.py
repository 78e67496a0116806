"""B11 — LLM-data-pipeline operators (SURVEY.md §2-B11, Q110-Q117) plus
the training-data extension set (q120-q128): dedup family, similarity
search, multimodal columns, text analysis.

Check-design notes:
- The documents table has 25 planted near-duplicate pairs (trigram-shingle
  Jaccard ≥ 0.8) with every other pair < 0.2 (measured at sf0.01), so a
  0.5 threshold sits in the gap and LSH recall is testable exactly.
- Approximate operators (LSH ANN, IVF, language-ID) declare a recall/
  accuracy floor and return the bound check itself — the hash-matched
  contract per SURVEY §2-B methodology (tol rows).
- Hash-dependent internals (xxhash64 signatures) are never oracled
  directly; only exact-verified outputs are.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import functions as F

from s4_spark.operators import dedup as D
from s4_spark.operators import similarity as S
from s4_spark.operators import text as X
from s4_spark.pipeline.corpus import prepare_corpus
from s4_spark.queries.helpers import ordered_small, t, ts
from s4_spark.queries.registry import query

# DuckDB mirror of with_shingles(n=3) + exact Jaccard ≥ threshold pairs.
_DUCK_JACCARD_PAIRS = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh AS (SELECT doc_id,
         list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                        for i in range(1, len(w) - 1)]) AS ws
       FROM w),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         round(CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE)
               / (len(a.ws) + len(b.ws) - len(list_intersect(a.ws, b.ws))), 6)
           AS jac
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
SELECT id_a, id_b, jac FROM pairs WHERE jac >= 0.5 ORDER BY id_a, id_b
"""

# DuckDB mirror of the deterministic sequential-fold cosine (dim=64).
_DUCK_COS = (
    "round(list_sum([CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)"
    " for i in range(1, 65)])"
    " / (sqrt(list_sum([CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)"
    " for i in range(1, 65)]))"
    " * sqrt(list_sum([CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)"
    " for i in range(1, 65)]))), 6)"
)


@query(
    "q110_exact_dedup",
    oracle="""
    SELECT count(*) AS n_docs,
           count(DISTINCT sha256(text)) AS n_unique,
           count(*) - count(DISTINCT sha256(text)) AS n_exact_dups
    FROM documents
    """,
    section="B11-llm",
)
def q110(spark, sf_dir):
    """Exact dedup: content-hash groupBy. At 100 TB this is one shuffle
    on a 32-byte key; sha2 is computed scan-side so the shuffle carries
    hashes, not documents."""
    d = t(spark, sf_dir, "documents").withColumn("h", F.sha2("text", 256))
    return d.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("h").alias("n_unique"),
        (F.count("*") - F.countDistinct("h")).alias("n_exact_dups"),
    )


@query("q111_minhash_lsh_neardup", oracle=_DUCK_JACCARD_PAIRS, section="B11-llm")
def q111(spark, sf_dir):
    """MinHash-LSH near-dup detection, exact-verified.

    shingle(3-gram) → 96 minhashes (24 bands × 4 rows) → band-bucket
    self-join → exact Jaccard on candidates only → threshold 0.5.
    Declared recall: P(miss | jac=0.8) = (1-0.8⁴)²⁴ ≈ 3e-6; every
    emitted pair is exact-verified, so precision is 1 by construction.
    """
    docs = ts(spark, sf_dir, "documents")
    ex = D.shingles_exploded(docs, "doc_id")
    sig = D.with_minhash_signature(ex, "doc_id")
    # NO barrier anywhere (r13): the verify plan references the
    # candidate table twice (id extraction + final join), but both
    # references are the identical subtree, so ReusedExchange runs the
    # candidate pipeline once — and a lazy localCheckpoint here costs a
    # full plan-to-RDD compile (~1-2 s of driver time) on EVERY
    # invocation, which dominated this query's bench cost (measured
    # r13: 4.5 s barriered vs 2.6 s bare, identical rows). At 100 TB
    # the same reuse keeps the corpus-sized explode single-pass.
    cands = D.lsh_candidate_pairs(sig, "doc_id", bands=24, rows=4)
    verified = D.verify_pairs_jaccard(cands, docs, "doc_id")
    return (
        verified.withColumn("jac", F.round("jac", 6))
        .filter(F.col("jac") >= 0.5)
        .select("id_a", "id_b", "jac")
        .orderBy("id_a", "id_b")
    )


@query(
    "q112_cosine_topk_bruteforce",
    oracle=f"""
    WITH q AS (SELECT vec_id AS q_id, embedding FROM embeddings WHERE vec_id < 10),
    scored AS (
      SELECT q.q_id, b.vec_id AS c_id, {_DUCK_COS.replace("a.embedding", "q.embedding").replace("b.embedding", "b.embedding")} AS cos
      FROM q JOIN embeddings b ON b.vec_id <> q.q_id
    ),
    ranked AS (
      SELECT q_id, c_id, cos,
             row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rank
      FROM scored)
    SELECT q_id, c_id, cos, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 5 ORDER BY q_id, rank
    """,
    section="B11-llm",
)
def q112(spark, sf_dir):
    """Brute-force cosine top-k (the exact ANN baseline): broadcast 10
    query vectors against all candidates, rank per query with rounded
    similarity + id tie-break."""
    e = t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    cands = e.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    return (
        S.brute_force_topk(queries, cands, k=5)
        .select("q_id", "c_id", "cos", "rank")
        # bounded result (10 queries x k)
        .transform(ordered_small, "q_id", "rank")
    )


@query(
    "q113_lsh_ann",
    oracle="SELECT CAST(10 AS BIGINT) AS n_queries, true AS recall_ok",
    section="B11-llm",
)
def q113(spark, sf_dir):
    """ANN via multi-table random-hyperplane LSH (8 tables × 8 fixed-seed
    planes, Hamming≤1 multiprobe). Declared contract: mean top-5 recall vs
    the exact q112 baseline ≥ 0.5 (tol row per SURVEY §2-B; this corpus
    has no strong near-neighbors — top-5 cosine ≈ 0.4-0.5 — which is the
    hard regime for hyperplane LSH, hence L=8 tables)."""
    e = t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    cands = e.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    hits = S.lsh_candidates_multitable(
        queries, cands, dim=64, n_tables=8, planes_per_table=8
    ).filter(F.col("q_id") != F.col("c_id"))
    scored = hits.select(
        "q_id", "c_id", F.round(S.cosine(F.col("q_vec"), F.col("c_vec")), 6).alias("cos")
    ).distinct()
    from pyspark.sql import Window

    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("c_id"))
    ann5 = scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= 5)

    exact5 = (
        S.brute_force_topk(
            t(spark, sf_dir, "embeddings")
            .filter(F.col("vec_id") < 10)
            .select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")),
            t(spark, sf_dir, "embeddings").select(
                F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")
            ),
            k=5,
        ).select("q_id", "c_id")
    )
    return _recall_result(
        queries.select("q_id"), ann5.select("q_id", "c_id"), exact5
    )


@query(
    "q114_text_stats",
    oracle="""
    SELECT lang, count(*) AS n,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           count(CASE WHEN n_chars = length(text) THEN 1 END) AS n_len_ok,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens
    FROM documents GROUP BY lang ORDER BY lang
    """,
    section="B11-llm",
)
def q114(spark, sf_dir):
    """Text stats: recompute n_chars (validates the stored column),
    token counts, per-language distribution."""
    d = t(spark, sf_dir, "documents")
    return (
        d.groupBy("lang")
        .agg(
            F.count("*").alias("n"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
            F.count(F.when(F.col("n_chars") == F.length("text"), 1)).alias("n_len_ok"),
            F.sum(F.size(F.split("text", " "))).cast("long").alias("sum_tokens"),
        )
        # bounded result (one row per language)
        .transform(ordered_small, "lang")
    )


@query(
    "q115_token_df_topk",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
      FROM documents)
    SELECT token, count(*) AS df FROM tok
    GROUP BY token ORDER BY df DESC, token LIMIT 20
    """,
    section="B11-llm",
)
def q115(spark, sf_dir):
    """Document frequency top-k (the df half of tf-idf): explode distinct
    tokens per doc → count → top-k. Map-side combine keeps the shuffle at
    |vocab| rows per partition."""
    d = t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("token")
    )
    return (
        toks.groupBy("token")
        .agg(F.count("*").alias("df"))
        .orderBy(F.col("df").desc(), "token")
        .limit(20)
    )


@query(
    "q116_binary_columns",
    oracle="""
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           sha256(text) AS payload_sha
    FROM documents ORDER BY doc_id LIMIT 100
    """,
    section="B11-llm",
)
def q116(spark, sf_dir):
    """Multimodal/binary columns: BinaryType payload + integrity hash.
    (The payload is constructed from text here; at 100 TB it would be
    image/audio bytes read from object storage — same plumbing.)"""
    d = t(spark, sf_dir, "documents").withColumn(
        "payload", F.encode("text", "UTF-8")
    )
    return (
        d.select(
            "doc_id",
            F.octet_length("payload").alias("n_bytes"),
            F.sha2("payload", 256).alias("payload_sha"),
        )
        .orderBy("doc_id")
        .limit(100)
    )


@query(
    "q117_embedding_normalize",
    oracle="""
    WITH n AS (
      SELECT vec_id, embedding,
             sqrt(list_sum([CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)
                            for i in range(1, 65)])) AS nrm
      FROM embeddings)
    SELECT vec_id,
           round(CAST(embedding[1] AS DOUBLE) / nrm, 6) AS e0_norm,
           round(sqrt(list_sum([(CAST(embedding[i] AS DOUBLE) / nrm)
                                * (CAST(embedding[i] AS DOUBLE) / nrm)
                                for i in range(1, 65)])), 6) AS l2_after
    FROM n ORDER BY vec_id LIMIT 300
    """,
    section="B11-llm",
)
def q117(spark, sf_dir):
    """L2 normalization via higher-order transform (no UDF)."""
    e = t(spark, sf_dir, "embeddings")
    nrm = S.l2_norm(F.col("embedding"))
    normalized = F.transform("embedding", lambda x: x.cast("double") / nrm)
    return (
        e.select(
            "vec_id",
            F.round(F.element_at(normalized, 1), 6).alias("e0_norm"),
            F.round(
                F.sqrt(
                    F.aggregate(
                        F.transform(normalized, lambda x: x * x),
                        F.lit(0.0),
                        lambda acc, v: acc + v,
                    )
                ),
                6,
            ).alias("l2_after"),
        )
        .orderBy("vec_id")
        .limit(300)
    )


# ── training-data extension set (beyond SURVEY §2-B11's named rows) ────


#: Corpus line for q120's dual regime (the q026/q122/q141 dispatch
#: pattern). At or below it (documents has 500/500/5k rows at the three
#: driver SFs) the declared SimHash banding runs verbatim; above it the
#: candidate stage dispatches to MinHash-LSH banding — the linear
#: spelling, 32×3-tuned for the 0.5 threshold, probabilistic near it
#: (P(miss|0.5) ≈ 1.4% per pair; the SimHash path is pigeonhole-complete
#: at Hamming ≤ 12) — feeding the identical exact-Jaccard verification.
#: tests/test_plans.py pins the two paths value-identical at the 3 gate
#: SFs.
Q120_GATE_ROWS = 20_000


def _q120_verified_pairs(spark, docs, cands):
    """Shared tail of both q120 regimes: exact trigram-Jaccard
    verification of a candidate pair set, thresholded at 0.5."""
    verified = D.verify_pairs_jaccard(cands, docs, "doc_id")
    return (
        verified.withColumn("jac", F.round("jac", 6))
        .filter(F.col("jac") >= 0.5)
        .select("id_a", "id_b", "jac")
        .orderBy("id_a", "id_b")
    )


def _q120_simhash_candidates(docs):
    """The declared SimHash mechanism: 64-bit simhash → 8×8-bit banded
    join with 1-bit multiprobe (pigeonhole-complete for Hamming ≤ 12:
    k = 12 - 8 + 1 = 5 probed bands gives completeness ≤ n_bands + k - 1,
    exactly the declared radius) → Hamming ≤ 12 filter. Radius 12 is the
    measured max Hamming of any Jaccard-≥0.5 pair at sf0.1
    (distribution: p50=3, max=12), and with the probe the declared
    radius is GUARANTEED caught by construction — candidate generation
    is join-keyed at every radius, never a Hamming-ball scan."""
    sh = D.with_simhash64(docs, "doc_id")
    # cache: simhash banding is the expensive stage here (the probe
    # multiplies left-side band rows 9x) and verification references the
    # pair set twice — materialize once rather than recompute (contrast
    # q111, where candidate gen is cheap and ReusedExchange alone is
    # faster than a cache barrier).
    return (
        D.simhash_candidate_pairs(
            sh, "doc_id", band_bits=8, max_hamming=12, probe_1bit=True
        )
        .select("id_a", "id_b")
        .cache()
    )


def _q120_minhash_candidates(docs):
    """The linear-at-scale candidate spelling: trigram shingles → 96
    minhashes (32 bands × 3 rows) → band-bucket self-join. 64-bit band
    keys keep buckets at true-duplicate size (vs SimHash's 2^band_bits
    key space), so candidate volume tracks true duplicates, not N²/2^w.

    Banding is tuned for THIS entry's 0.5 threshold (ADVICE r9): q111's
    24×4 layout has P(miss | jac=0.5) = (1-0.5⁴)²⁴ ≈ 21% per pair right
    at the boundary; 32×3 over the same 96-hash signature gives
    P(miss | 0.5) = (1-0.5³)³² ≈ 1.4%, P(miss | 0.55) ≈ 0.3%,
    P(miss | 0.8) ≈ 1e-10. The regime is therefore PROBABILISTIC near
    the threshold — unlike the below-gate SimHash banding, which is
    pigeonhole-complete at the declared radius — and is documented as
    such in q120's docstring; every emitted pair is exact-verified
    downstream, so precision stays 1 regardless."""
    ex = D.shingles_exploded(docs, "doc_id")
    sig = D.with_minhash_signature(ex, "doc_id")
    # no barrier: ReusedExchange dedups the double-referenced candidate
    # subtree, and a lazy localCheckpoint costs a plan-to-RDD compile at
    # construction (r13, same measurement as q111)
    return D.lsh_candidate_pairs(sig, "doc_id", bands=32, rows=3)


@query("q120_simhash_neardup", oracle=_DUCK_JACCARD_PAIRS, section="B11-llm")
def q120(spark, sf_dir):
    """SimHash near-dup detection, exact-verified to the same contract as
    q111 (trigram Jaccard ≥ 0.5), dual-regime.

    At or below Q120_GATE_ROWS (every driver gate SF) the declared
    SimHash mechanism runs verbatim — see _q120_simhash_candidates for
    the banding and the radius-12 completeness derivation. Above the
    gate the candidate stage dispatches to MinHash-LSH banding
    (_q120_minhash_candidates), because SimHash band keys span only
    2^band_bits = 256 values: bucket occupancy grows ∝ N over a fixed
    key space, so candidate volume is O(N²/2⁸) — 793 s at the r8 ×100
    probe and a decade steeper than q111 on the same corpus. MinHash's
    64-bit band keys keep buckets at true-duplicate size (q111 measured
    linear through ×100). Both regimes feed the identical exact-Jaccard
    verification, so precision is exact in both; RECALL differs at the
    regime boundary (ADVICE r9): the SimHash path is pigeonhole-complete
    at Hamming ≤ 12, while the above-gate MinHash path is probabilistic
    near the threshold — 32 bands × 3 rows gives P(miss | jac=0.5) ≈
    1.4%, decaying to ≈1e-10 by jac=0.8 (see _q120_minhash_candidates
    for the tuning derivation). tests/test_plans.py pins the two paths
    value-identical at sf0.001/0.01/0.1."""
    docs = t(spark, sf_dir, "documents")
    if docs.count() > Q120_GATE_ROWS:
        cands = _q120_minhash_candidates(docs)
    else:
        cands = _q120_simhash_candidates(docs)
    return _q120_verified_pairs(spark, docs, cands)


#: q121 scale dispatch (VERDICT r11 item 5). The exact arm's cost is
#: Σ_s df(s)² — honest but unbounded under adversarial vocabulary
#: concentration, which corpus SIZE alone cannot see. So past a cheap
#: metadata size gate the entry MEASURES Σdf² with one linear
#: aggregation over the inverted index (O(|inv|), tiny next to the
#: O(Σdf²) join it guards) and falls back to the LSH-verified arm when
#: the exact arm would blow up. Calibration (2026-08-16, DuckDB on the
#: salted probe dirs): Σdf² = 2.79e7 / 2.79e8 / 2.79e9 at ×10/×100/×1000
#: — LINEAR per decade, because make_scaled_sf's injective per-copy
#: vocab rename holds per-shingle df constant — and the ×1000 exact arm
#: ran 187.7 s; the 2e10 ceiling is ~7× that measurement (≈ 20-25 min
#: extrapolated), past which only the LSH arm is defensible.
Q121_MEASURE_GATE_BYTES = 8 * 1024 * 1024  # all driver SFs + ×10 skip free
Q121_EXACT_MAX_SUM_DF2 = 20_000_000_000
#: sizes side is 16 B/doc; a docs scan under this estimate implies a
#: comfortably broadcastable sizes frame (~100 B/doc on disk → ≤ ~20M
#: docs ≈ 300 MB broadcast, the same ceiling the old count() gate set)
Q121_BCAST_MAX_BYTES = 2 * 1024**3


@query("q121_ngram_jaccard_exact", oracle=_DUCK_JACCARD_PAIRS, section="B11-llm")
def q121(spark, sf_dir):
    """Exact n-gram Jaccard dedup via inverted-index OVERLAP COUNTING —
    the group-count spelling of the exact set-similarity join:

    explode shingles → hash → distinct → self-join on shingle →
    groupBy(pair) count = |A∩B| → join sizes → jac = o/(|A|+|B|−o).

    jac is computed CLOSED-FORM from the overlap count and the two set
    sizes — no per-pair set materialization at any point. The previous
    candidates-then-verify spelling re-joined every candidate pair to
    both docs' shingle-set ARRAYS (~2 KB each side); at ×1000 (5M docs)
    this corpus's 31-word shared vocabulary yields ~4×10⁸ candidate
    pairs (measured 4.3×10⁷ at ×100), so the verify join alone moved
    O(800 GB) — two scale probes died on shuffle-spill disk exhaustion
    before any single stage finished. Here the widest structure is the
    pair-overlap aggregation: 16-byte (id_a, id_b) rows with map-side
    partial counts, one shuffle, linear in Σ_s df(s)².

    Completeness is structural (any pair with jac > 0 shares a shingle
    and is counted); precision is exact (o and sizes are exact, the
    single final IEEE division matches the oracle's to the 6-dp round).
    Shingles ride as xxhash64 — a collision MERGES two shingles and
    could only create a tiny jac overestimate in theory, but sets are
    per-doc distinct'd pre-hash and 5M docs × 48 shingles is ~2³⁸
    birthday-paired vs 2⁶⁴ hash space (collision odds ~1e-8, none at
    any gate SF — oracle equality pinned at sf0.001/0.01/0.1).

    Scale dispatch (VERDICT r11 item 5, q120's dual-regime pattern):
    past Q121_MEASURE_GATE_BYTES of input (pure plan-stats metadata, no
    job — every driver SF and the ×10 sweep skip it free) the entry
    measures Σdf² with one linear aggregation and, above
    Q121_EXACT_MAX_SUM_DF2, dispatches the candidate stage to
    MinHash-LSH (q120's above-gate arm: 32×3 banding tuned for this
    0.5 threshold, exact verification downstream) — identical rows up
    to the documented P(miss | jac=0.5) ≈ 1.4% banding floor, measured
    98.55% recall on constructed boundary pairs (r11 planted cert).
    Below the ceiling the exact arm runs as declared; the ×1000 salted
    probe measures Σdf² = 2.79e9 and stays exact (187.7 s, r11).

    Scale notes: the sizes side (one row per doc) broadcasts under a
    metadata size gate (ADVICE r11: the old count() gate was an eager
    full scan inside every timed construction); past it, the plan falls
    back to two shuffle joins — at 100 TB the overlap agg dominates
    either way."""
    T = 0.5
    docs = ts(spark, sf_dir, "documents")
    inv = (
        D.shingles_exploded(docs, "doc_id")
        .select("doc_id", F.xxhash64("shingle").alias("s"))
        .distinct()
    )
    docs_bytes = S.plan_size_bytes(docs)
    if docs_bytes > Q121_MEASURE_GATE_BYTES:
        # the measurement and the final plan both consume inv — pay the
        # explode+hash+distinct shuffle once (16 B/row checkpoint, ~4.5 GB
        # at the ×1000 probe), not twice
        inv = inv.localCheckpoint(eager=True)
        sum_df2 = (
            inv.groupBy("s")
            .agg(F.count("*").alias("d"))
            .agg(F.sum(F.col("d") * F.col("d")).alias("sum_df2"))
            .collect()[0]["sum_df2"]
        ) or 0
        if sum_df2 > Q121_EXACT_MAX_SUM_DF2:
            return _q120_verified_pairs(spark, docs, _q120_minhash_candidates(docs))
    sizes = inv.groupBy("doc_id").agg(F.count("*").alias("sz"))
    bcast = docs_bytes <= Q121_BCAST_MAX_BYTES
    a, b = inv.alias("a"), inv.alias("b")
    overlap = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.count("*").alias("o"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("sz").alias("sza"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("sz").alias("szb"))
    if bcast:
        sa, sb = F.broadcast(sa), F.broadcast(sb)
    return (
        overlap.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jac",
            F.round(F.col("o") / (F.col("sza") + F.col("szb") - F.col("o")), 6),
        )
        .filter(F.col("jac") >= T)
        .select("id_a", "id_b", "jac")
        .orderBy("id_a", "id_b")
    )


@query(
    "q122_embedding_neardup_pairs",
    oracle=f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_DUCK_COS} AS cos
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    ORDER BY cos DESC, id_a, id_b LIMIT 10
    """,
    section="B11-llm",
)
def q122(spark, sf_dir):
    """Embedding-cosine near-dup: top-10 most similar pairs. (This corpus
    has no planted embedding dups — max pair cosine ≈ 0.51 — so the check
    is the exact top-of-distribution list rather than a threshold set.)
    Scale dispatch (round-7 probe): past the brute-force row threshold
    the self-crossJoin + interpreted-HOF cosine — 814 s at a mere 20k
    vectors — is replaced by operators/similarity.allpairs_topk_cosine
    (broadcast matrix + per-batch vectorized scoring, each pair produced
    once in the batch owning its smaller id, lossless per-batch top-k),
    which returns the bit-identical list in seconds. At 100 TB the same
    operator runs behind LSH/IVF candidate generation (q113/q128)
    instead of any all-pairs scoring."""
    e = t(spark, sf_dir, "embeddings")
    if S._exceeds_rows(e, S.ALLPAIRS_DISPATCH_ROWS):
        return S.allpairs_topk_cosine(e, k=10)
    a = e.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = e.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    return (
        pairs.select(
            "id_a", "id_b", F.round(S.cosine(F.col("va"), F.col("vb")), 6).alias("cos")
        )
        .orderBy(F.col("cos").desc(), "id_a", "id_b")
        .limit(10)
    )


@query(
    "q123_language_id",
    oracle="SELECT count(*) AS n_docs, true AS accuracy_ok FROM documents",
    section="B11-llm",
)
def q123(spark, sf_dir):
    """Naive-Bayes language ID from per-language word-frequency profiles
    learned on the labeled corpus. The five languages share one 31-word
    vocabulary AND near-identical frequency shape by construction
    (measured sf0.1 max-min per-word frequency spread across languages:
    ~0.003 absolute on ~0.033 means), so the Bayes-optimal in-sample
    accuracy decays toward the 0.2 random baseline as sampling noise
    averages out: measured 0.326 at sf0.01 (500 docs) but 0.216 at
    sf0.1 (5000 docs). The declared floor is therefore STRICTLY ABOVE
    RANDOM by a noise-aware margin: acc > 0.2 + 2·SE where
    SE = sqrt(0.2·0.8/n) is the binomial standard error of a random
    classifier on n docs (round-5 advice: the old fixed strict
    inequality acc > 0.2 had a margin that shrank with SF — 0.126 at
    sf0.01, 0.016 at sf0.1 — and could flip on sampling noise alone at
    larger SFs; the 2·SE bound scales with n. Measured: acc 0.292 vs
    bound 0.236 at sf0.001, 0.326 vs 0.236 at sf0.01, 0.2158 vs
    0.2113 at sf0.1 — green at every SF this environment can run).
    What the entry verifies is the distributed NB machinery (profile
    agg, broadcast scoring, tie-broken argmax) and that it extracts
    whatever signal the corpus has, not a production lang-ID quality
    bar this data cannot support. The oracle counts n_docs from the
    table, so the oracle side is SF-independent."""
    docs = t(spark, sf_dir, "documents")
    profiles = X.lang_word_profiles(docs)
    pred = X.predict_lang(docs, profiles)
    joined = pred.join(docs.select("doc_id", "lang"), "doc_id")
    acc = joined.agg(
        F.count("*").alias("n"),
        (
            F.count(F.when(F.col("pred_lang") == F.col("lang"), 1))
            / F.count("*")
        ).alias("acc"),
    )
    return acc.select(
        F.col("n").cast("long").alias("n_docs"),
        (
            F.col("acc")
            > F.lit(0.2) + F.lit(2.0) * F.sqrt(F.lit(0.2 * 0.8) / F.col("n"))
        ).alias("accuracy_ok"),
    )


@query(
    "q124_quality_score",
    oracle=r"""
    SELECT doc_id,
           length(text) AS n_chars_calc,
           len(string_split(text, ' ')) AS n_tokens,
           round(CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
                 / len(string_split(text, ' ')), 6) AS mean_word_len,
           round(CAST(length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g'))
                 AS DOUBLE) / length(text), 6) AS punct_ratio,
           len(list_intersect(list_distinct(string_split(text, ' ')),
                              ['the', 'a', 'and', 'of', 'to'])) AS n_stopword_kinds
    FROM documents ORDER BY doc_id LIMIT 200
    """,
    section="B11-llm",
)
def q124(spark, sf_dir):
    """Document quality features (length / token / punctuation / stopword
    signals) — the standard corpus-cleaning pre-filter, all JVM-side."""
    d = X.quality_features(t(spark, sf_dir, "documents"))
    return (
        d.select(
            "doc_id",
            "n_chars_calc",
            "n_tokens",
            "mean_word_len",
            "punct_ratio",
            "n_stopword_kinds",
        )
        .orderBy("doc_id")
        .limit(200)
    )


@query(
    "q125_token_counting",
    oracle=rf"""
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_ws_tokens,
           len(regexp_extract_all(text, '{X.BPE_ISH_PATTERN}')) AS n_bpe_tokens
    FROM documents ORDER BY doc_id LIMIT 200
    """,
    section="B11-llm",
)
def q125(spark, sf_dir):
    """Token counting: whitespace and BPE-ish regex pre-tokenizer counts
    (the cheap proxy used for corpus token budgeting)."""
    d = t(spark, sf_dir, "documents")
    return (
        d.select(
            "doc_id",
            F.size(X.whitespace_tokens(F.col("text"))).alias("n_ws_tokens"),
            F.size(X.bpe_ish_tokens(F.col("text"))).alias("n_bpe_tokens"),
        )
        .orderBy("doc_id")
        .limit(200)
    )


@query(
    "q126_doc_fingerprint",
    oracle="""
    SELECT doc_id,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
                          [CAST(ascii(text[i]) AS BIGINT)
                           for i in range(1, length(text) + 1)]),
             (a, c) -> (a * 31 + c) % 2147483648) AS fp
    FROM documents ORDER BY doc_id LIMIT 200
    """,
    section="B11-llm",
)
def q126(spark, sf_dir):
    """Deterministic rolling-hash document fingerprint (h = h*31 + c mod
    2³¹) — engine-independent content addressing for incremental dedup."""
    d = ts(spark, sf_dir, "documents")
    return (
        d.select(
            "doc_id", X.rolling_hash_fingerprint(F.col("text")).alias("fp")
        )
        .orderBy("doc_id")
        .limit(200)
    )


@query(
    "q127_multimodal_decode_stub",
    oracle="""
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           CAST(octet_length(encode(text)) % 640 AS INT) AS width,
           CAST(ascii(substring(text, 1, 1)) AS INT) AS height,
           md5(text) AS checksum
    FROM documents ORDER BY doc_id LIMIT 100
    """,
    section="B11-llm",
)
def q127(spark, sf_dir):
    """Multimodal decode plumbing: opaque binary payload + typed metadata
    struct, "decoded" by an Arrow-batched mapInPandas stage.

    The decode itself is a DETERMINISTIC FAKE (this container has no
    image/audio libs — the real decoder would replace `fake_decode`
    below, same schema/batching); the Spark-side plumbing (BinaryType
    column, metadata struct, iterator-of-batches UDF, schema) is real
    and is what the check exercises."""
    import hashlib
    from collections.abc import Iterator

    d = (
        t(spark, sf_dir, "documents")
        .withColumn("payload", F.encode("text", "UTF-8"))
        .withColumn(
            "meta",
            F.struct(
                F.lit("fake/raw").alias("format"),
                F.octet_length("payload").alias("n_bytes"),
            ),
        )
    )

    def fake_decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Real impl: PIL/libav decode of payload bytes -> features.
        for pdf in batches:
            payloads = pdf["payload"]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": payloads.map(len),
                    "width": payloads.map(lambda b: len(b) % 640),
                    "height": payloads.map(lambda b: b[0]),
                    "checksum": payloads.map(
                        lambda b: hashlib.md5(b).hexdigest()
                    ),
                }
            )

    return (
        d.select("doc_id", "payload", "meta")
        .mapInPandas(
            fake_decode,
            "doc_id long, n_bytes int, width int, height int, checksum string",
        )
        .orderBy("doc_id")
        .limit(100)
    )


def _recall_result(q_ids, ann5, exact5):
    """Mean top-5 recall averaged over EVERY query in ``q_ids``.

    ``intersect`` drops zero-hit queries, so aggregating its groupBy
    output alone shrinks the denominator to queries with >=1 hit (1
    query at 3/5 plus 9 at 0/5 would read 0.6 instead of 0.06 — ADVICE
    r3). Left-join hit counts onto the full query-id set with hits
    coalesced to 0, and report the MEASURED query count so a missing
    query can't hide behind a hard-coded literal."""
    hits = ann5.intersect(exact5).groupBy("q_id").agg(F.count("*").alias("hits"))
    per_q = q_ids.join(hits, "q_id", "left").select(
        F.coalesce(F.col("hits"), F.lit(0)).alias("hits")
    )
    res = per_q.agg(
        F.count("*").alias("nq"), (F.sum("hits") / (5 * F.count("*"))).alias("r")
    )
    return res.select(
        F.col("nq").cast("long").alias("n_queries"),
        (F.col("r") >= 0.5).alias("recall_ok"),
    )


@query(
    "q128_ivf_ann",
    oracle="SELECT CAST(10 AS BIGINT) AS n_queries, true AS recall_ok",
    section="B11-llm",
)
def q128(spark, sf_dir):
    """ANN via IVF (inverted-file) coarse quantization: 16 centroid cells
    (fixed sample vectors; a k-means fit at real scale), candidates
    assigned to their nearest cell, queries probe the 6 nearest cells.
    Declared floor: mean top-5 recall vs exact ≥ 0.5 (tol row; this
    corpus's vectors are near-uniform, the hard regime for IVF)."""
    e = t(spark, sf_dir, "embeddings")
    cents = [
        r.embedding
        for r in e.filter(
            (F.col("vec_id") >= 100) & (F.col("vec_id") < 116)
        ).orderBy("vec_id").select("embedding").collect()
    ]
    cands = S.ivf_assign(
        e.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")),
        "c_vec", cents, n_probe=1,
    ).select("c_id", "c_vec", F.element_at("ivf_cell", 1).alias("cell"))
    queries = S.ivf_assign(
        e.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
        ),
        "q_vec", cents, n_probe=6,
    ).select("q_id", "q_vec", F.explode("ivf_cell").alias("cell"))
    hits = queries.join(cands, "cell").filter(F.col("q_id") != F.col("c_id"))
    scored = hits.select(
        "q_id", "c_id", F.round(S.cosine(F.col("q_vec"), F.col("c_vec")), 6).alias("cos")
    ).distinct()
    from pyspark.sql import Window

    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("c_id"))
    ann5 = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("q_id", "c_id")
    )
    exact5 = S.brute_force_topk(
        e.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
        ),
        e.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")),
        k=5,
    ).select("q_id", "c_id")
    q_ids = e.filter(F.col("vec_id") < 10).select(F.col("vec_id").alias("q_id"))
    return _recall_result(q_ids, ann5, exact5)


@query(
    "q129_cosine_topk_blocked",
    oracle=f"""
    WITH q AS (SELECT vec_id AS q_id, embedding FROM embeddings WHERE vec_id < 10),
    scored AS (
      SELECT q.q_id, b.vec_id AS c_id, {_DUCK_COS.replace("a.embedding", "q.embedding")} AS cos
      FROM q JOIN embeddings b ON b.vec_id <> q.q_id
    ),
    ranked AS (
      SELECT q_id, c_id, cos,
             row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rank
      FROM scored)
    SELECT q_id, c_id, cos, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 5 ORDER BY q_id, rank
    """,
    section="B11-llm",
)
def q129(spark, sf_dir):
    """Block-partitioned exact cosine top-k (operators/similarity.py
    block_topk_cosine) — the 100 TB formulation of q112: per-Arrow-batch
    numpy scoring with in-task top-k, so the merge stage sees Q x k x
    n_batches rows instead of the full Q x N scored space. Shares q112's
    oracle: the block path must be bit-identical to brute force."""
    e = t(spark, sf_dir, "embeddings")
    qvecs = [
        (r["vec_id"], list(r["embedding"]))
        for r in e.filter(F.col("vec_id") < 10)
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    ]
    cands = e.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    return (
        S.block_topk_cosine(cands, qvecs, k=5)
        .select("q_id", "c_id", "cos", "rank")
        # bounded result (10 queries x k)
        .transform(ordered_small, "q_id", "rank")
    )


@query(
    "q130_corpus_prep",
    oracle=r"""
    WITH feat AS (
      SELECT doc_id, lang, text,
             len(string_split(text, ' ')) AS n_tokens,
             round(CAST(length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g'))
                   AS DOUBLE) / length(text), 6) AS punct_ratio
      FROM documents),
    quality AS (
      SELECT * FROM feat WHERE n_tokens >= 5 AND punct_ratio <= 0.5),
    exact_kept AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY sha256(text)
                                     ORDER BY doc_id) AS rn
        FROM quality) WHERE rn = 1),
    w AS (SELECT doc_id, string_split(text, ' ') AS w FROM exact_kept),
    sh AS (SELECT doc_id,
             list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                            for i in range(1, len(w) - 1)]) AS ws
           FROM w),
    neardup AS (
      SELECT DISTINCT b.doc_id AS removed
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE)
            / (len(a.ws) + len(b.ws) - len(list_intersect(a.ws, b.ws))) >= 0.5),
    final AS (
      SELECT * FROM exact_kept WHERE doc_id NOT IN (SELECT removed FROM neardup))
    SELECT lang, count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
    FROM final GROUP BY lang ORDER BY lang
    """,
    section="B11-llm",
)
def q130(spark, sf_dir):
    """Flagship corpus-prep pipeline — the end-to-end training-data job
    this engine exists for, every stage a tested operator:

      quality filter (n_tokens ≥ 5, punct_ratio ≤ 0.5; operators/text.py)
      → exact dedup keeping the lowest doc_id per content hash
      → near-dup removal via MinHash-LSH candidates (q111's scale path:
        signature/band/verify — candidates are exact-Jaccard-verified, so
        the emitted pair set equals the exact join's; see q111 for the
        recall bound) — drop the larger id of every verified ≥ 0.5 pair
        (non-cascading keep-first policy, so the result is deterministic
        and SQL-mirrorable)
      → per-language corpus stats.

    The SQL oracle is the exact all-pairs formulation — the pipeline must
    land on identical rows through the approximate-then-verify path. The
    stages are ``pipeline.corpus.prepare_corpus``, the job ``cli corpus``
    runs, so the oracle checks the shipped code path."""
    final = prepare_corpus(t(spark, sf_dir, "documents"))
    return (
        final.groupBy("lang")
        .agg(F.count("*").alias("n_docs"), F.sum("n_tokens").cast("long").alias("sum_tokens"))
        # bounded result (one row per language)
        .transform(ordered_small, "lang")
    )


@query(
    "q148_dedup_cluster_cc",
    oracle="""
    WITH RECURSIVE w AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    sh AS (SELECT doc_id,
             list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                            for i in range(1, len(w) - 1)]) AS ws
           FROM w),
    p AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE)
            / (len(a.ws) + len(b.ws) - len(list_intersect(a.ws, b.ws)))
            >= 0.5),
    e AS (SELECT id_a AS a, id_b AS b FROM p
          UNION ALL SELECT id_b, id_a FROM p),
    r(a, b) AS (
      SELECT DISTINCT a, a FROM e
      UNION
      SELECT r.a, e.b FROM r JOIN e ON r.b = e.a),
    comp AS (SELECT a AS node, min(b) AS label FROM r GROUP BY a)
    SELECT label AS canonical,
           count(*) AS n_members,
           count(*) - 1 AS n_removed
    FROM comp GROUP BY label ORDER BY canonical
    """,
    section="B11-llm",
)
def q148(spark, sf_dir):
    """Near-dup CLUSTER canonicalization: the verified pair list (q111's
    MinHash-LSH + exact-Jaccard stack) is only half the dedup story —
    pairs chain (A~B, B~C but not A~C), so removal must operate on
    connected components, keeping one canonical doc (the min id) per
    cluster. Components via iterative min-label propagation
    (operators/dedup.connected_components); the oracle computes the same
    components with a recursive-CTE transitive closure over the exact
    Jaccard pair set."""
    docs = ts(spark, sf_dir, "documents")
    ex = D.shingles_exploded(docs, "doc_id")
    sig = D.with_minhash_signature(ex, "doc_id")
    cands = D.lsh_candidate_pairs(sig, "doc_id", bands=24, rows=4)
    pairs = (
        D.verify_pairs_jaccard(cands, docs, "doc_id")
        .filter(F.col("jac") >= 0.5)
        .select("id_a", "id_b")
        # second lazy cut: CC's edge symmetrization checkpoint otherwise
        # compiles the whole verify-over-LSH plan on the driver; stacked
        # with the verify-internal candidate cut this measured
        # 3.99 -> 3.06 s min-of-3 at sf0.1, identical rows (SCALE.md B11)
        .localCheckpoint(eager=False)
    )
    labels = D.connected_components(pairs)
    return (
        labels.groupBy("label")
        .agg(F.count("*").alias("n_members"))
        .select(
            F.col("label").alias("canonical"),
            "n_members",
            (F.col("n_members") - 1).alias("n_removed"),
        )
        .orderBy("canonical")
    )


@query(
    "q162_kmeans_ivf_fit",
    oracle="""
    SELECT count(*) AS n_assigned, true AS inertia_monotone,
           true AS nearest_ok
    FROM embeddings
    """,
    section="B11-llm",
)
def q162(spark, sf_dir):
    """K-means centroid training for the IVF index (operators/similarity
    .kmeans_fit): 16 clusters, 5 Lloyd iterations over the embeddings.
    Iterative, so the fitted output can't be SQL-replayed — instead the
    entry emits a CERTIFIED-INVARIANTS row (the q113/q170 recall_ok
    pattern, upgrading the r1-r6 rows-only check): every vector is
    assigned exactly once (n_assigned must equal the table cardinality
    via the inner join back to embeddings), the inertia history is
    non-increasing across iterations (Lloyd's invariant, computed from
    the fit's history), and every point's recorded dist2 equals its
    distance to the NEAREST centroid of the final assignment's centroid
    set — recomputed JVM-side against the centroid literals with a 1e-9
    tolerance, the same check tests/test_properties.py makes in Python
    on random data. A wrong assignment, a diverging iteration, or a
    stale dist2 flips a boolean and fails the hash."""
    from s4_spark.operators.similarity import kmeans_fit

    e = t(spark, sf_dir, "embeddings")
    assigned, cents, hist, assign_cents = kmeans_fit(
        e.select("vec_id", "embedding"), "embedding", k=16, n_iters=5
    )
    mono = all(a >= b - 1e-9 for a, b in zip(hist, hist[1:]))
    dists = [
        F.aggregate(
            F.zip_with(
                F.col("embedding"),
                F.array(*[F.lit(float(v)) for v in c]),
                lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        for c in assign_cents
    ]
    joined = e.select("vec_id", "embedding").join(
        assigned.select("vec_id", "dist2"), "vec_id"
    )
    return joined.agg(
        F.count("*").alias("n_assigned"),
        F.lit(bool(mono)).alias("inertia_monotone"),
        (F.max(F.abs(F.col("dist2") - F.least(*dists))) <= F.lit(1e-9)).alias(
            "nearest_ok"
        ),
    )


@query(
    "q170_pq_ann",
    oracle="SELECT CAST(10 AS BIGINT) AS n_queries, true AS recall_ok",
    section="B11-llm",
)
def q170(spark, sf_dir):
    """ANN via product quantization + asymmetric distance (the
    memory-compressed embedding-search technique behind every
    billion-vector store): vectors L2-normalize (making squared-L2
    ranking monotone in cosine), split into m=8 subspaces, each encoded
    as its nearest of k=16 codewords — 8 small ints per vector instead
    of 64 doubles (~64x memory shrink at 100 TB). Codebooks train on a
    256-vector sample (driver-side numpy, deterministic — legitimate
    bounded state like q162's centroids); queries precompute a Qxmxk
    lookup table of exact subspace distances, so candidate scoring is a
    BROADCAST JOIN on (subspace, code) + a partial-aggregated sum — no
    vector math touches the corpus at query time. The top max(64, √N)
    ADC candidates re-rank with exact cosine (standard PQ re-rank).
    Declared floor: mean top-5 recall vs exact >= 0.5 (tol row;
    near-uniform vectors are the hard regime, same note as q128 —
    measured 36/50 = 0.72 at sf0.01).

    Scale shape (r9 ×1000 probe, 2M vectors): a FIXED 64-candidate
    shortlist starves the re-rank as N grows — 32-bit PQ codes rank
    coarsely, so the true top-5's odds of sitting inside a constant-size
    shortlist fall with corpus size (measured 22/50 at 2M). The re-rank
    depth now scales as √N (the IVF-style balance: ADC scoring stays
    O(N) per query, exact re-rank grows sublinearly) — 38/50 at 2M,
    certified recall_ok=True at 209 s end-to-end (vs 132 s failing at
    depth 64), and max(64, ·) keeps every driver-gate SF
    (N ≤ 2000 → √N < 64) on the original shortlist bit-for-bit. The
    codebook sample deliberately stays the 256 lowest-id vectors: a
    hash-spread sample was measured WORSE at ×1000 (9/50 at depth 64,
    26/50 at √N) because the probe's per-copy orthogonal scrambling
    rewards codebooks specialized to the query copy's geometry — and on
    a real corpus a production PQ trains k-means codebooks on a far
    larger sample anyway (q162's kmeans_fit is the operator for that)."""
    import math

    from pyspark.sql import Window

    e = t(spark, sf_dir, "embeddings")
    norm = S.l2_norm(F.col("embedding"))
    # normalized view feeds three consumers (sample, queries, encode) —
    # materialize so the interpreted-HOF normalize fold runs once
    en = e.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double") / norm).alias("vn"),
    ).localCheckpoint(eager=True)
    sample = [
        list(map(float, r.vn))
        for r in en.orderBy("vec_id").limit(256).collect()
    ]
    books = S.pq_train_codebooks(sample, m=8, k=16)
    # encode ONCE and materialize — this IS product quantization's point:
    # the codes table (m small ints/vector) persists and every subsequent
    # query scans codes, never re-encoding the corpus (at 100 TB this is
    # a stored table; localCheckpoint is its single-session analog)
    cands = S.pq_encode(
        en.select(F.col("vec_id").alias("c_id"), F.col("vn").alias("c_vn")),
        "c_vn",
        books,
    ).select("c_id", "codes").localCheckpoint(eager=True)
    # √N re-rank depth (r9): en is already materialized, so the count
    # is a bounded metadata-scale job, same pattern as q141's gate
    shortlist_k = max(64, math.isqrt(en.count()))
    qrows = [
        (int(r.vec_id), list(map(float, r.vn)))
        for r in en.filter(F.col("vec_id") < 10).collect()
    ]
    lut = spark.createDataFrame(
        S.pq_adc_lut_rows(qrows, books), "q_id long, m int, code int, d2 double"
    )
    exploded = cands.select(
        "c_id", F.posexplode("codes").alias("m", "code")
    )
    adc = (
        exploded.join(F.broadcast(lut), ["m", "code"])
        .filter(F.col("q_id") != F.col("c_id"))
        .groupBy("q_id", "c_id")
        .agg(F.round(F.sum("d2"), 9).alias("ad2"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("ad2"), F.col("c_id"))
    shortlist = (
        adc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= shortlist_k)
        .select("q_id", "c_id")
    )
    # exact re-rank of the shortlist only (candidate-only cost)
    qvecs = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    cvecs = e.select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")
    )
    rer = (
        shortlist.join(cvecs, "c_id")
        .join(F.broadcast(qvecs), "q_id")
        .select(
            "q_id",
            "c_id",
            F.round(S.cosine(F.col("q_vec"), F.col("c_vec")), 6).alias("cos"),
        )
    )
    w2 = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("c_id"))
    ann5 = (
        rer.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= 5)
        .select("q_id", "c_id")
    )
    exact5 = S.brute_force_topk(qvecs, cvecs, k=5).select("q_id", "c_id")
    return _recall_result(qvecs.select("q_id"), ann5, exact5)


@query(
    "q193_heavy_hitters_twopass",
    oracle="""
    WITH toks AS (SELECT unnest(string_split(text, ' ')) AS w
                  FROM documents),
    nn AS (SELECT count(*) AS n FROM toks),
    freq AS (SELECT w, count(*) AS c FROM toks GROUP BY w)
    SELECT w, c AS cnt,
           round(c / CAST((SELECT n FROM nn) AS DOUBLE), 6) AS frac
    FROM freq
    WHERE c * 100 >= (SELECT n FROM nn)
    ORDER BY cnt DESC, w
    """,
    section="B11-llm",
)
def q193(spark, sf_dir):
    """EXACT heavy hitters (all tokens with ≥1% corpus frequency)
    WITHOUT shuffling the full token-frequency table — the two-pass
    candidate scheme:

      1. a PARTITION-LOCAL pass (`mapInPandas` — the candidate filter
         runs inside the partition, so NOTHING vocabulary-sized ever
         reaches a shuffle; a plain groupBy(token) would ship one row
         per distinct token, Heaps-law-sized at 100 TB) emits only the
         tokens reaching the threshold within that partition — ≤ 1/θ
         rows per partition. Pigeonhole guarantees this is a SUPERSET
         of the true heavy hitters: a token with global count ≥ θ·n
         has count ≥ θ·n_p in at least one partition, for ANY
         partitioning — so the verified result is partition-layout-
         independent even though the candidate set is not;
      2. exact-count ONLY the candidates (broadcast semi-join on the
         token stream) and keep those passing the global threshold.

    The local pass holds per-partition exact counts (a dict — Heaps-
    bounded per partition); at extreme per-partition vocabularies the
    drop-in replacement is Misra-Gries with ⌈1/θ⌉ counters, which
    preserves the same superset guarantee in O(1/θ) memory. The integer
    threshold compare (c·100 ≥ n) keeps the contract float-free; `frac`
    is one final exact-integer division."""
    toks = ts(spark, sf_dir, "documents").select(
        F.explode(F.split("text", " ")).alias("w")
    )
    n = toks.count()

    def local_heavy(batches):
        from collections import Counter

        counts: Counter = Counter()
        total = 0
        for pdf in batches:
            vc = pdf["w"].value_counts()
            counts.update(vc.to_dict())
            total += int(vc.sum())
        yield pd.DataFrame(
            [w for w, c in counts.items() if c * 100 >= total],
            columns=["w"],
        )

    candidates = toks.mapInPandas(local_heavy, "w string").distinct()
    exact = (
        toks.join(F.broadcast(candidates), "w", "left_semi")
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") * 100 >= F.lit(n))
    )
    # bounded result (at most 1/theta = 100 heavy hitters by pigeonhole)
    return ordered_small(
        exact.select(
            "w",
            "cnt",
            F.round(F.col("cnt") / F.lit(n).cast("double"), 6).alias("frac"),
        ),
        F.desc("cnt"),
        "w",
    )


_FRAME_SIZE, _FRAME_STRIDE = 16, 4


@query(
    "q198_video_frame_sampling",
    oracle=f"""
    WITH v AS (SELECT doc_id, text FROM documents WHERE doc_id < 30),
    frames AS (
      SELECT doc_id,
             unnest(generate_series(0,
                 CAST(floor(length(text) / {_FRAME_SIZE}) AS INT) - 1,
                 {_FRAME_STRIDE})) AS frame_idx,
             text
      FROM v),
    sampled AS (
      SELECT doc_id, frame_idx,
             sha256(substring(text, frame_idx * {_FRAME_SIZE} + 1,
                              {_FRAME_SIZE})) AS frame_sha
      FROM frames)
    SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx, frame_sha
    FROM sampled ORDER BY doc_id, frame_idx
    """,
    section="B11-llm",
)
def q198(spark, sf_dir):
    """Video frame SAMPLING plumbing (every {stride}-th fixed-size frame
    out of an opaque binary payload) — the multimodal pre-processing
    stage between q142's binary ingest and q127's decode stub: a
    training pipeline rarely decodes whole videos, it samples frames
    first and ships only those to the (GPU) decoder. The codec is not in
    this container, so a "frame" is deterministically a fixed-size
    window of the payload (character-indexed here because the fixture
    payload is text-derived and DuckDB 1.0 cannot slice BLOBs; a real
    byte payload swaps the slice for bytes without touching the plan or
    schema) — which makes the part that matters on Spark REAL and
    oracle-checkable: the Arrow-batched ``mapInPandas`` row-to-many-rows
    expansion, its output schema, the per-frame content hashes, and the
    partition-parallel shape (each doc's frames emit from its
    partition; nothing shuffles until the caller aggregates).

    At 100 TB: payloads stream batch-by-batch through the Python worker
    (spark.sql.execution.arrow.maxRecordsPerBatch bounds memory); frame
    extraction is pure per-row work, so the stage scales with input
    splits. A real decoder drops into the same iterator (decode +
    sample per row) without touching the plan."""
    docs = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 30)
        .select("doc_id", F.col("text").alias("payload"))
    )

    def sample_frames(batches):
        import hashlib

        for pdf in batches:
            out = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                n_frames = len(payload) // _FRAME_SIZE
                for j in range(0, n_frames, _FRAME_STRIDE):
                    chunk = payload[j * _FRAME_SIZE : (j + 1) * _FRAME_SIZE]
                    out.append(
                        (
                            int(doc_id),
                            j,
                            hashlib.sha256(chunk.encode("utf-8")).hexdigest(),
                        )
                    )
            yield pd.DataFrame(
                out, columns=["doc_id", "frame_idx", "frame_sha"]
            )

    return docs.mapInPandas(
        sample_frames, "doc_id long, frame_idx long, frame_sha string"
    ).orderBy("doc_id", "frame_idx")


_SEG_SIZE, _SEG_STRIDE, _SEG_ENERGY_MIN = 64, 32, 320


@query(
    "q211_audio_segment_plumbing",
    oracle=f"""
    WITH a AS (SELECT doc_id, text FROM documents WHERE doc_id < 30),
    segs AS (
      SELECT doc_id, text,
             unnest(generate_series(0,
                 CAST(floor((length(text) - {_SEG_SIZE}) / {_SEG_STRIDE})
                      AS INT),
                 1)) AS seg_idx
      FROM a WHERE length(text) >= {_SEG_SIZE}),
    scored AS (
      SELECT doc_id, seg_idx,
             CAST(list_sum([unicode(text[seg_idx * {_SEG_STRIDE} + j]) % 16
                            for j in range(1, {_SEG_SIZE} + 1)])
                  AS BIGINT) AS energy
      FROM segs)
    SELECT doc_id, CAST(seg_idx AS BIGINT) AS seg_idx, energy,
           CAST(energy >= {_SEG_ENERGY_MIN} AS BIGINT) AS kept
    FROM scored ORDER BY doc_id, seg_idx
    """,
    section="B11-llm",
)
def q211(spark, sf_dir):
    """Audio segmentation + energy gating plumbing — the VAD-ish
    (voice-activity-detection) preprocessing a speech corpus runs
    before transcription/feature extraction: OVERLAPPING fixed-duration
    windows (size 64, stride 32 — q198's frames are disjoint samples;
    overlap is what spectral/VAD windows need), a per-window additive
    energy reduce, and a silence gate that marks low-energy segments
    for dropping. Completes the modality triple: q127 image decode,
    q198 video frame sampling, this audio segmentation — all three are
    the same Spark shape (Arrow-batched ``mapInPandas`` row→many-rows
    expansion) with modality-specific per-row work.

    No audio codec lives in this container, so a "sample" is
    deterministically a character code of the payload (energy =
    Σ codepoint mod 16 over the window — integer-exact cross-engine);
    a real pipeline swaps in PCM frames + RMS energy at the same
    iterator without touching plan, schema, or partitioning.

    At 100 TB: per-row work, partition-parallel, Arrow-batch memory
    bound; segments stay on their doc's partition until the caller
    aggregates. The energy gate drops silence BEFORE the expensive
    decode/ASR stage — the same cost argument as q198's
    sample-then-decode."""
    docs = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 30)
        .select("doc_id", F.col("text").alias("payload"))
    )

    def segment(batches):
        import numpy as np

        empty = {
            "doc_id": pd.Series(dtype="int64"),
            "seg_idx": pd.Series(dtype="int64"),
            "energy": pd.Series(dtype="int64"),
            "kept": pd.Series(dtype="int64"),
        }
        for pdf in batches:
            # WHOLE-BATCH vectorization (VERDICT r11 item 4): every
            # payload of the Arrow batch is concatenated into ONE
            # codepoint array (utf-32-le == exact ord() per char), one
            # prefix-sum serves every window of every doc — window j of
            # doc d covers [off_d + j*stride, +size), so its energy is
            # cs[start+size] - cs[start]. No per-character loop, no
            # per-doc numpy/DataFrame overhead (the per-doc spelling
            # measured SLOWER than the original loop on short docs —
            # allocation overhead, not arithmetic, was the cost).
            keep = [p for p in pdf["payload"] if len(p) >= _SEG_SIZE]
            kept_ids = [
                int(i)
                for i, p in zip(pdf["doc_id"], pdf["payload"])
                if len(p) >= _SEG_SIZE
            ]
            if not keep:
                yield pd.DataFrame(empty)
                continue
            cp = np.frombuffer(
                "".join(keep).encode("utf-32-le"), dtype=np.uint32
            ).astype(np.int64)
            cs = np.concatenate(([0], np.cumsum(cp % 16)))
            lens = np.fromiter((len(p) for p in keep), dtype=np.int64)
            offs = np.concatenate(([0], np.cumsum(lens)))[:-1]
            n_segs = (lens - _SEG_SIZE) // _SEG_STRIDE + 1
            doc_of_seg = np.repeat(np.arange(lens.size), n_segs)
            seg_idx = np.arange(int(n_segs.sum()), dtype=np.int64) - np.repeat(
                np.concatenate(([0], np.cumsum(n_segs)))[:-1], n_segs
            )
            starts = offs[doc_of_seg] + seg_idx * _SEG_STRIDE
            energy = cs[starts + _SEG_SIZE] - cs[starts]
            yield pd.DataFrame(
                {
                    "doc_id": np.asarray(kept_ids, dtype=np.int64)[doc_of_seg],
                    "seg_idx": seg_idx,
                    "energy": energy,
                    "kept": (energy >= _SEG_ENERGY_MIN).astype(np.int64),
                }
            )

    return docs.mapInPandas(
        segment, "doc_id long, seg_idx long, energy long, kept long"
    ).orderBy("doc_id", "seg_idx")


@query(
    "q213_image_resize_features",
    oracle="""
    WITH img AS (SELECT doc_id, text, length(text) AS n
                 FROM documents WHERE doc_id < 40 AND length(text) >= 64),
    dims AS (SELECT doc_id, text,
                    n // 32 AS in_h,
                    (n // 32) // 2 AS out_h
             FROM img),
    px AS (SELECT doc_id, in_h, out_h, CAST(16 AS BIGINT) AS out_w,
                  CAST(list_sum([unicode(text[2 * (i // 16) * 32
                                               + 2 * (i % 16) + 1])
                                 for i in range(0, out_h * 16)])
                       AS BIGINT) AS pixel_sum,
                  CAST(list_sum([(i // 16 + 1)
                                 * unicode(text[2 * (i // 16) * 32
                                                + 2 * (i % 16) + 1])
                                 for i in range(0, out_h * 16)])
                       AS BIGINT) AS row_weighted_sum
           FROM dims)
    SELECT doc_id, CAST(in_h AS BIGINT) AS in_h,
           CAST(out_h AS BIGINT) AS out_h, out_w,
           pixel_sum, row_weighted_sum
    FROM px ORDER BY doc_id
    """,
    section="B11-llm",
)
def q213(spark, sf_dir):
    """Image RESIZE + feature-extraction plumbing — the remaining two
    multimodal verbs (q127 decodes, q198/q211 sample/segment; this
    downsamples and featurizes): the payload is treated as an H×32 byte
    raster, stride-2 subsampled in BOTH axes (nearest-neighbor resize to
    H/2×16), then reduced to features. Two features on purpose:
    ``pixel_sum`` (content) and ``row_weighted_sum`` (row-index-weighted
    — it pins SPATIAL layout, catching the transpose/row-major bugs a
    bare content sum cannot see). All integer-exact cross-engine.

    The raster is a deterministic fake (no PIL in this container); a
    real pipeline swaps the byte grid for decoded pixels and the
    stride-2 slice for a proper filter inside the same Arrow-batched
    ``mapInPandas`` iterator — schema, batching, and partitioning are
    the real, tested part.

    At 100 TB: per-row work, partition-parallel, Arrow memory-bounded;
    resize-then-featurize runs where the bytes already are (no shuffle
    before the caller aggregates) — the locality argument that makes
    preprocessing pipelines scan-bound, not network-bound."""
    docs = (
        t(spark, sf_dir, "documents")
        .filter((F.col("doc_id") < 40) & (F.length("text") >= 64))
        .select("doc_id", F.col("text").alias("payload"))
    )

    def resize_features(batches):
        import numpy as np

        for pdf in batches:
            out = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                w = 32
                # exact codepoints, vectorized: utf-32-le is one uint32
                # per character (== ord()), so the whole raster becomes
                # a numpy grid and the resize is a strided slice — no
                # per-pixel Python loop (VERDICT r11 item 4; the loop
                # was 256 interpreter ops/KB of payload).
                cp = np.frombuffer(
                    payload.encode("utf-32-le"), dtype=np.uint32
                ).astype(np.int64)
                in_h = cp.size // w
                out_h, out_w = in_h // 2, w // 2  # stride-2 both axes
                sub = cp[: in_h * w].reshape(in_h, w)[
                    : 2 * out_h : 2, : 2 * out_w : 2
                ]
                pixel_sum = int(sub.sum())
                row_weighted = int(
                    ((np.arange(out_h, dtype=np.int64) + 1)[:, None] * sub).sum()
                )
                out.append(
                    (int(doc_id), in_h, out_h, out_w, pixel_sum, row_weighted)
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "doc_id",
                    "in_h",
                    "out_h",
                    "out_w",
                    "pixel_sum",
                    "row_weighted_sum",
                ],
            )

    return docs.mapInPandas(
        resize_features,
        "doc_id long, in_h long, out_h long, out_w long, "
        "pixel_sum long, row_weighted_sum long",
    ).orderBy("doc_id")
