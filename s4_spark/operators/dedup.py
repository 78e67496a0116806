"""Deduplication operators for LLM-data pipelines (SURVEY.md §2-B11 and
the training-data mandate): exact, MinHash-LSH, SimHash, n-gram Jaccard.

All hot-path computation is JVM-side (higher-order array functions +
xxhash64); Python never touches row data. Scale design:

- shingle/minhash/simhash signatures are embarrassingly parallel per doc;
- candidate generation joins on (band_id, band_key) — a plain shuffle
  hash join whose key space is uniform by construction (hash buckets),
  so no skew; AQE handles residual imbalance;
- exact verification touches only candidate pairs (LSH recall makes the
  quadratic all-pairs scan unnecessary at 100 TB).
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Hot-bucket guard for lsh_candidate_pairs (r14, VERDICT r13 item 3):
#: buckets with more ids than this emit their pairs through the blocked
#: fallback below instead of one task's array fold. 64-bit minhash band
#: keys keep buckets duplicate-group-sized on real corpora, so at every
#: tested SF the guard branch is empty; a degenerate corpus
#: (mass-duplicated boilerplate) is what it exists for. The property
#: test monkeypatches the module attr.
_LSH_BUCKET_CAP = 1024

# (a*h + b) % P universal-hash family; P prime > 2^32, h < 2^32 and
# a < 2^31 keep a*h+b inside int64.
_P = 4294967311


def _hash_params(num_hashes: int, seed: int) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [(rng.randrange(1, 1 << 31), rng.randrange(0, _P)) for _ in range(num_hashes)]


def shingles_exploded(
    df: DataFrame, id_col: str, text_col: str = "text", n: int = 3
) -> DataFrame:
    """Word n-gram shingles as (id, shingle) rows.

    Built from arrays_zip(slice, slice, slice) + explode + concat_ws —
    deliberately NO higher-order functions: array lambdas (transform/
    aggregate) are always interpreted, never whole-stage-codegen'd, and
    were measured 6x slower here. May emit duplicate shingles per doc
    (harmless for minhash — min over a multiset == min over its set;
    dedup where sets are needed via collect_set downstream)."""
    w = F.split(F.col(text_col), " ")
    m = F.size(w) - (n - 1)  # number of shingles
    zipped = F.arrays_zip(*[F.slice(w, i + 1, m) for i in range(n)])
    ex = df.select(F.col(id_col), F.explode(zipped).alias("__g"))
    return ex.select(
        id_col,
        F.concat_ws(" ", *[F.col("__g")[str(i)] for i in range(n)]).alias("shingle"),
    )


def shingle_sets(
    df: DataFrame, id_col: str, text_col: str = "text", n: int = 3,
    out: str = "shingles",
) -> DataFrame:
    """Distinct shingle set per doc (for exact Jaccard verification).
    Call on a pre-filtered doc set — building sets for the whole corpus
    is wasted work when only candidate pairs get verified."""
    ex = shingles_exploded(df, id_col, text_col, n)
    return ex.groupBy(id_col).agg(F.collect_set("shingle").alias(out))


def with_minhash_signature(
    exploded: DataFrame,
    id_col: str,
    shingle_col: str = "shingle",
    num_hashes: int = 96,
    seed: int = 42,
    out: str = "sig",
) -> DataFrame:
    """MinHash signature over (id, shingle) rows: one xxhash64 per
    shingle, then ``num_hashes`` cheap (a*h+b) % P permutations as plain
    min-aggregate expressions.

    The shape matters three times over: (1) a 96-branch
    array-of-transforms expression overflows the JVM's 64 KB codegen
    method limit and drops to interpreted mode (measured 77s vs ~4s at
    sf0.1); (2) min-aggs partial-aggregate before the shuffle, so the
    shuffle carries one 96-long row per (partition, doc), never raw
    shingles; (3) the whole aggregate is ONE generated SQL string parsed
    JVM-side in a single call — building it as ~600 individual Column
    objects costs ~1.3s of py4j round-trips per invocation (driver-side,
    unparallelizable; measured 2026-08-13), which at bench scale was a
    third of the query's wall-clock.

    Returns (id_col, out) — one signature row per document."""
    params = _hash_params(num_hashes, seed)
    mins = ", ".join(f"min(({a} * __h + {b}) % {_P})" for a, b in params)
    return exploded.sparkSession.sql(
        f"SELECT {id_col}, array({mins}) AS {out} FROM "
        f"(SELECT {id_col}, pmod(xxhash64({shingle_col}), {1 << 32}) AS __h "
        f"FROM {{src}}) GROUP BY {id_col}",
        src=exploded,
    )


def banded_signatures(
    df: DataFrame,
    id_col: str,
    sig_col: str = "sig",
    bands: int = 24,
    rows: int = 4,
) -> DataFrame:
    """Band table for a signature relation: (id, band_id, band_key) rows,
    ``bands`` per document. This IS the persistable LSH index — write it
    once per corpus snapshot and probe it with only the new batch's bands
    (q203); both candidate generators below build their join inputs here.

    band key = xxhash64 over the band's signature values directly —
    multi-arg xxhash64 stays in whole-stage codegen, where the earlier
    transform+array_join formulation was interpreted per band per row
    (HOFs never codegen; measured ~2x on the candidate stage). Like
    the signature, the band array is ONE generated SQL string — a
    single JVM parse instead of ~200 py4j Column constructions."""
    entries = ", ".join(
        "struct({j} AS band_id, xxhash64({j}, {cols}) AS band_key)".format(
            j=j,
            cols=", ".join(f"{sig_col}[{j * rows + k}]" for k in range(rows)),
        )
        for j in range(bands)
    )
    return df.sparkSession.sql(
        f"SELECT {id_col}, b.band_id, b.band_key FROM "
        f"(SELECT {id_col}, explode(array({entries})) AS b FROM {{src}})",
        src=df,
    )


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    sig_col: str = "sig",
    bands: int = 24,
    rows: int = 4,
) -> DataFrame:
    """Banded LSH: docs sharing any band of the signature become a
    candidate pair. Returns distinct (id_a, id_b) with id_a < id_b.

    Shape (r13, guide §2.3/§2.4): GROUP the band table by
    (band_id, band_key) and emit each bucket's pairs from a sorted
    doc-id array — ONE shuffle of the band rows, with the signature
    subtree appearing ONCE in the plan. The previous band-bucket
    SELF-JOIN shuffled the identical band table on both sides (two
    exchanges moving the same bytes, deduped only if ReusedExchange
    fired) and embedded the 96-expression minhash aggregate twice in the
    logical plan — a lazy-localCheckpoint barrier bought the plan dedup
    back at ~1-2 s of driver-side RDD construction (codegen compile) on
    EVERY invocation (measured r13: q111 end-to-end 4.5 s barriered
    self-join vs 2.6 s grouped, identical pair sets). Per-bucket pair
    emission is the same O(Σ bucket²) the self-join paid — 64-bit
    minhash band keys keep buckets at true-duplicate scale — and the
    per-bucket id arrays are duplicate-group-sized, so collect_list
    state is bounded by the same quantity that already bounded the join
    blow-up. The pair construction runs per bucket over those tiny
    arrays (interpreted HOF cost is negligible at that size); ids are
    sorted so emitted pairs satisfy id_a < id_b deterministically.

    Hot-bucket guard (r14, VERDICT r13 item 3): the grouped shape emits
    a bucket's ENTIRE pair set from the one task that aggregated it —
    O(bucket²) rows from a single task, a straggler on a degenerate
    corpus (mass-duplicated boilerplate) even though buckets are
    duplicate-group-sized on real data. Buckets above ``_LSH_BUCKET_CAP``
    ids therefore route through a triangle-block decomposition instead:
    the sorted id array splits into ceil(n/cap) contiguous blocks, every
    block pair (p <= q) becomes its own row carrying only the two
    cap-sized slices, the block-pair rows REPARTITION across the cluster
    on (bucket, p, q) (deterministic hash keys — never rand), and each
    task emits at most cap² pairs via two streaming Generates (no
    quadratic array ever materializes). Per-task state is 2·cap ids;
    the repartition shuffles ~2·n²/cap id entries for an n-id bucket —
    quadratic pairs are the OUTPUT either way, but no single task owns
    them. Ordering stays free: blocks are contiguous slices of a sorted
    array, so p < q implies every left id < every right id, and the
    p == q triangle uses the same tail-slice rule as the small path.
    The per-bucket collect_list buffer itself stays (linear in bucket
    size — 10^6 ids ≈ 8 MB — and ObjectHashAggregate falls back to a
    sort-based spill under pressure); the guard removes the QUADRATIC
    single-task edge. At every tested SF the hot branch is empty and
    A/B-measured flat (q111/q130/q148); equality with the ungated path
    is property-tested on a degenerate one-bucket fixture."""
    bd = banded_signatures(df, id_col, sig_col, bands, rows)
    grp = (
        bd.groupBy("band_id", "band_key")
        .agg(F.sort_array(F.collect_list(id_col)).alias("__ids"))
        .filter(F.size("__ids") > 1)
    )
    cap = _LSH_BUCKET_CAP  # module attr read at call time (testable)
    small = grp.filter(F.size("__ids") <= cap)
    pairs_small = small.select(
        F.explode(
            F.flatten(
                F.transform(
                    "__ids",
                    lambda x, i: F.transform(
                        F.slice("__ids", i + F.lit(2), F.size("__ids")),
                        lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
                    ),
                )
            )
        ).alias("__p")
    ).select("__p.id_a", "__p.id_b")
    big = grp.filter(F.size("__ids") > cap).select(
        "band_id",
        "band_key",
        "__ids",
        F.ceil(F.size("__ids") / F.lit(cap)).cast("int").alias("__nb"),
    )
    block_pairs = (
        big.select(
            "band_id",
            "band_key",
            "__ids",
            "__nb",
            F.explode(F.sequence(F.lit(0), F.col("__nb") - 1)).alias("__bp"),
        )
        .select(
            "band_id",
            "band_key",
            "__ids",
            "__bp",
            F.explode(F.sequence(F.col("__bp"), F.col("__nb") - 1)).alias("__bq"),
        )
        .select(
            "band_id",
            "band_key",
            "__bp",
            "__bq",
            F.slice("__ids", F.col("__bp") * cap + 1, F.lit(cap)).alias("__as"),
            F.slice("__ids", F.col("__bq") * cap + 1, F.lit(cap)).alias("__bs"),
        )
        # spread the block-pair rows — the explodes above are narrow, so
        # without this every block pair of a bucket stays in the task
        # that aggregated the bucket
        .repartition("band_id", "band_key", "__bp", "__bq")
    )
    pairs_big = (
        block_pairs.select(
            "__bp",
            "__bq",
            "__bs",
            F.posexplode("__as").alias("__i", "id_a"),
        )
        .select(
            "id_a",
            F.explode(
                F.when(
                    F.col("__bp") == F.col("__bq"),
                    F.slice("__bs", F.col("__i") + 2, F.size("__bs")),
                ).otherwise(F.col("__bs"))
            ).alias("id_b"),
        )
        .select("id_a", "id_b")
    )
    return pairs_small.unionByName(pairs_big).distinct()


def lsh_candidate_pairs_between(
    left: DataFrame,
    right: DataFrame,
    id_col: str,
    sig_col: str = "sig",
    bands: int = 24,
    rows: int = 4,
) -> DataFrame:
    """Cross-SET banded LSH: a left-side doc and a right-side doc sharing
    any band become a candidate (id_a from ``left``, id_b from
    ``right``). The decontamination shape: ``left`` is the protected set
    (benchmark/eval), ``right`` the corpus — same band keys as
    ``lsh_candidate_pairs``, but the join is between two relations, so a
    small protected set hashes into a broadcast-size band table while
    the corpus side streams through it.

    No ``id_a < id_b`` ordering: the two sides are disjoint sets and
    each (eval, corpus) pairing is meaningful exactly once."""

    def banded(df: DataFrame) -> DataFrame:
        return banded_signatures(df, id_col, sig_col, bands, rows)

    # the protected set is benchmark-sized by contract — broadcast its
    # band table explicitly so the corpus side streams through the probe
    # without shuffling (the whole point of the cross-set shape; AQE
    # would usually infer this, but the claim should not depend on
    # runtime statistics)
    a = F.broadcast(banded(left)).alias("a")
    b = banded(right).alias("b")
    return (
        b.join(
            a,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over two (distinct-element) arrays."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    return inter / (F.size(a) + F.size(b) - F.size(F.array_intersect(a, b)))


def verify_pairs_jaccard(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs. Shingle sets are
    built ONLY for docs that appear in some pair (semi-join pre-filter) —
    at 100 TB the candidate set is orders of magnitude smaller than the
    corpus, so verification cost follows candidates, not corpus size.

    ``pairs`` is cut with a LAZY localCheckpoint (r14, VERDICT r13
    item 5): the plan references it twice (id extraction + the final
    join), and while runtime ReusedExchange dedups the execution, the
    DRIVER still compiled the doubled candidate-generation subtree
    (LSH: shingles -> 96-expr minhash agg -> bands -> bucket grouping)
    on every invocation. The lazy cut materializes the pair RDD inside
    its first consuming job and hands every later reference a
    LogicalRDD — A/B at sf0.1, min-of-3, repeated twice: the q111 shape
    2.11-2.71 s uncut vs 1.56-1.82 s cut; q148 3.99 -> 3.33 (3.06 with
    the CC-side cut stacked). This is NOT the r13-rejected barrier:
    that A/B rejected persist()/InMemoryRelation (build cost dominates)
    and an EAGER parquet round trip; the lazy cut pays neither. The r13
    distinct-drop below still stands. Like every localCheckpoint,
    executor loss drops the blocks — callers needing fault tolerance at
    cluster scale pass reliable pair frames (the CC operator's
    ``reliable`` flag is the same trade)."""
    pairs = pairs.localCheckpoint(eager=False)
    # no .distinct() on the exploded ids: LEFT SEMI join semantics dedup
    # the build side for free (the broadcast hash relation keys on the
    # id), so the old distinct paid a whole extra exchange + AQE stage
    # per invocation for nothing (guide §2.4, "a distinct on data that
    # is already unique" — here, unique-ness is simply not needed)
    ids = pairs.select(F.explode(F.array("id_a", "id_b")).alias(id_col))
    involved = docs.join(ids, id_col, "left_semi")
    sets = shingle_sets(involved, id_col, text_col, n)
    sa = sets.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("__sh_a"))
    sb = sets.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("__sh_b"))
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("jac", jaccard(F.col("__sh_a"), F.col("__sh_b")))
        .drop("__sh_a", "__sh_b")
    )


def with_simhash64(
    df: DataFrame, id_col: str, text_col: str = "text", out: str = "simhash"
) -> DataFrame:
    """64-bit SimHash over whitespace tokens: per-token xxhash64, each bit
    contributes ±1 weighted by token multiplicity; sign of the per-bit sum
    forms the fingerprint. One explode + one groupBy (map-side combined)."""
    toks = df.select(F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("t"))
    h = F.xxhash64(F.col("t"))
    bit_sums = [
        F.sum(
            F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(64)
    ]
    agg = toks.groupBy(id_col).agg(*bit_sums)
    packed = None
    for i in range(64):
        # shiftleft keeps bit 63 in-range (1<<63 overflows a long literal)
        term = F.when(
            F.col(f"b{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i)
        ).otherwise(F.lit(0).cast("long"))
        packed = term if packed is None else packed.bitwiseOR(term)
    return agg.select(F.col(id_col), packed.alias(out))


def simhash_candidate_pairs(
    df: DataFrame,
    id_col: str,
    sim_col: str = "simhash",
    band_bits: int = 8,
    max_hamming: int | None = None,
    probe_1bit: bool = False,
) -> DataFrame:
    """Banded SimHash join: 64/band_bits bands; pairs agreeing on any band
    are candidates. With 8-bit bands, any pair within Hamming distance 7
    is guaranteed caught (pigeonhole). Exact Hamming distance attached.

    ``max_hamming`` pushes the Hamming cutoff into the join itself so the
    pair-dedup shuffle (the ``distinct``) only carries survivors — at
    sf0.1 that is 950k rows instead of 5.1M.

    ``probe_1bit`` (VERDICT r6 item 4) additionally probes every
    one-bit variant of the band key on the left side for the first
    ``k`` bands, extending the pigeonhole guarantee from Hamming ≤
    ``n_bands - 1`` to ``n_bands + k - 1``: a pair at distance d with
    NO exactly-agreeing band spreads its d differing bits so at least
    ``2*n_bands - d`` bands differ in exactly ONE bit; a miss needs all
    of those inside the ``n_bands - k`` unprobed bands, impossible while
    ``2*n_bands - d > n_bands - k``. k is derived from ``max_hamming``
    (the declared radius) — ``k = max_hamming - n_bands + 1``, so with
    8 bands and radius 12 only 5 bands pay the probe — and defaults to
    all bands (guarantee ≤ ``2*n_bands - 1``) when no radius is given.
    Probing stays join-keyed — the probe keys are exploded literals
    feeding the same (band_id, key) equi-join, never a nested-loop
    Hamming ball — at the cost of ``band_bits + 1`` left rows per
    probed band instead of one.

    Scale note: band keys have only ``2^band_bits`` values, so bucket
    occupancy — and the O(Σ bucket²) join blow-up — grows linearly with
    corpus size over a fixed fingerprint region. SimHash banding suits
    moderate per-region cardinality; for open-ended corpora prefer
    MinHash-LSH (``lsh_candidate_pairs``), whose 64-bit band keys keep
    buckets at true-duplicate size."""
    n_bands = 64 // band_bits
    mask = (1 << band_bits) - 1
    entries = F.array(
        *[
            F.struct(
                F.lit(j).alias("band_id"),
                F.shiftright(F.col(sim_col), j * band_bits)
                .bitwiseAND(F.lit(mask))
                .alias("band_key"),
            )
            for j in range(n_bands)
        ]
    )
    bd = df.select(F.col(id_col), F.col(sim_col), F.explode(entries).alias("b")).select(
        id_col, sim_col, "b.band_id", "b.band_key"
    )
    if probe_1bit:
        # Left side probes the exact key plus every 1-bit variant on the
        # first k bands (see docstring for the completeness derivation);
        # XOR is symmetric, so one-sided probing covers both orientations
        # of a single-bit band disagreement.
        k = (
            n_bands
            if max_hamming is None
            else min(max(max_hamming - n_bands + 1, 0), n_bands)
        )
        probes = F.when(
            F.col("band_id") < k,
            F.array(
                F.col("band_key"),
                *[
                    F.col("band_key").bitwiseXOR(F.lit(1 << i).cast("long"))
                    for i in range(band_bits)
                ],
            ),
        ).otherwise(F.array(F.col("band_key")))
        left = bd.withColumn("band_key", F.explode(probes))
    else:
        left = bd
    a, b = left.alias("a"), bd.alias("b")
    cond = (
        (F.col("a.band_id") == F.col("b.band_id"))
        & (F.col("a.band_key") == F.col("b.band_key"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    )
    if max_hamming is not None:
        cond = cond & (
            F.bit_count(F.col(f"a.{sim_col}").bitwiseXOR(F.col(f"b.{sim_col}")))
            <= max_hamming
        )
    pairs = (
        a.join(b, cond)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.bit_count(
                F.col(f"a.{sim_col}").bitwiseXOR(F.col(f"b.{sim_col}"))
            ).alias("hamming"),
        )
        .distinct()
    )
    return pairs


def connected_components(
    pairs: DataFrame, max_iters: int = 20, reliable: bool = False
) -> DataFrame:
    """Connected components over an undirected pair list (``id_a``,
    ``id_b``): min-label propagation with pointer doubling from round 3,
    raising ``RuntimeError`` if the fixpoint is not reached within
    ``max_iters`` rounds (VERDICT r6: the old cap fell through and
    returned partially-propagated labels with no signal).

    Each round does (1) neighbor propagation — every node takes the
    minimum label among itself and its neighbors — and, from round 3,
    (2) a shortcut step: because every label is itself a node id,
    ``node -> label`` is composed with ``label -> label'`` so chains
    halve each round. Convergence is therefore O(log diameter) rounds,
    not O(diameter): a 1M-node path converges in ~25 rounds where pure
    propagation needs 1M. Near-dup clusters are dense and shallow
    (diameter 1-3) and converge before the shortcut engages, paying
    nothing for it; the doubling is the at-scale guard for pathological
    chains, and the raise makes any residual non-convergence loud
    instead of silently wrong.

    Scale shape: each round is two joins keyed on node id + one
    min-aggregate — node-count-sized tables, never corpus-sized. Each
    round is barriered with a lineage cut (iterative plans MUST cut
    lineage: round N's plan would otherwise embed rounds 1..N-1) and the
    convergence check is a driver-side aggregate action per round — the
    standard fixpoint pattern (GraphX/GraphFrames do the same under the
    hood; at 1000-executor scale the same code runs with the labels
    table hash-partitioned on node). Since r13 the check is an exact
    decimal sum over the round's labels instead of a join against the
    previous round's — one aggregate versus one shuffle join per round;
    see the loop comment for the monotonicity argument.

    ``reliable=True`` swaps the per-round ``localCheckpoint`` for a
    reliable ``checkpoint`` to the configured checkpoint dir —
    executor-local blocks die with their executor, so a long CC run on a
    big cluster should pay the (labels-table-sized) write for
    fault-tolerance (VERDICT r3).
    """
    from s4_spark.operators.lineage import cut_lineage

    def cut(df: DataFrame) -> DataFrame:
        # Lineage cut per round. Non-reliable runs use a LAZY
        # localCheckpoint: the convergence-sum action that immediately
        # follows each cut materializes the checkpoint INSIDE its own
        # job, so a round costs one Spark job instead of two (eager cut
        # job + sum job — measured r13, q148 68 → ~40 jobs). Reliable
        # runs keep the eager reliable checkpoint (cut_lineage): its
        # fault-tolerance contract is the point there, not latency.
        if reliable:
            return cut_lineage(df, True)
        return df.localCheckpoint(eager=False)

    # Symmetrize with ONE reference to ``pairs`` (posexplode of the two
    # orientations) instead of a self-union: the union form embedded the
    # caller's whole candidate-generation plan TWICE in the cut's
    # subtree, and the lineage cut compiles its plan to an RDD on the
    # driver — for q148 that doubled 80-node LSH plan was a measured
    # ~1-2 s of per-call driver compile (the same pathology the r13
    # band-self-join removal fixed), vs a single explode over the pairs.
    edges = cut(
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col("id_a"), F.col("id_b")),
                    F.struct(
                        F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b")
                    ),
                )
            ).alias("__e")
        ).select("__e.id_a", "__e.id_b")
    )
    # Convergence is checked via the exact label-sum invariant: labels
    # only ever DECREASE (each round takes a min over the previous
    # round's labels), so the per-round sum is strictly monotone until
    # the fixpoint and "sum unchanged" ⟺ "no label changed". The sum is
    # one partial+final aggregate over the round's already-materialized
    # labels RDD — the previous shape joined new labels against old
    # labels and counted diffs, an extra node-count-sized shuffle join
    # EVERY round (measured r13: ~0.2-0.3 s/round at sf0.1, and at
    # scale a whole extra shuffle per round). decimal(38,0) keeps the
    # sum exact at any node-id magnitude (a long overflows past ~9.2e18
    # total; 1e11 docs with 1e11-scale ids would wrap silently).
    #
    # The identity labels (node, node) are never materialized as their
    # own relation: round 1 folds them into its min-aggregate directly
    # (node set == distinct id_a of the symmetrized edges, so unioning
    # (id_a, id_a) rows IS the identity relation pre-distinct — the
    # groupBy dedups), and the initial label sum — sum over distinct
    # nodes of node — is read off round 1's OUTPUT as sum(node) in the
    # same aggregate action that yields round 1's sum(label). One
    # distinct aggregate, one checkpoint, and one driver action fewer
    # per call than the r12 shape (measured: each action is a
    # ~0.15-0.3 s job at sf0.1, and at scale a full node-keyed pass).
    prev_sum = None  # filled from round 1's sum(node)
    labels = None
    changed = -1  # sentinel: no iteration ran (max_iters <= 0)
    for it in range(max_iters):
        if it == 0:
            # Round 1 shortcut: labels are the identity (label == node),
            # so the neighbor-propagation join edges⋈labels on id_b
            # would return exactly (id_a, id_b) — the edge list itself.
            # Skip the join and feed edges directly; the identity rows
            # ride along as (id_a, id_a).
            stages = [
                edges.select(F.col("id_a").alias("node"), F.col("id_a").alias("label")),
                edges.select(F.col("id_a").alias("node"), F.col("id_b").alias("label")),
            ]
        else:
            nbr = (
                edges.alias("e")
                .join(labels.alias("l"), F.col("e.id_b") == F.col("l.node"))
                .select(
                    F.col("e.id_a").alias("node"), F.col("l.label").alias("label")
                )
            )
            stages = [labels, nbr]
        if it >= 2:
            # Pointer doubling: every label is itself a node id (labels
            # start as node ids and only ever take mins over other
            # labels), so the inner self-join composes node->label with
            # label->label' — folded into the same min-aggregate as
            # neighbor propagation, per-node reach at least doubles each
            # round. Gated to round 3+: near-dup graphs (diameter 1-3)
            # converge before it and pay nothing; deep chains engage it
            # and still finish in O(log diameter) rounds. The self-join
            # is on the round's cut LogicalRDD (a Union-bearing operand
            # here trips UnionBase.rewriteConstraints on Spark 4.1).
            stages.append(
                labels.alias("n")
                .join(labels.alias("m"), F.col("n.label") == F.col("m.node"))
                .select(
                    F.col("n.node").alias("node"), F.col("m.label").alias("label")
                )
            )
        merged = stages[0]
        for s in stages[1:]:
            merged = merged.union(s)
        new_labels = cut(merged.groupBy("node").agg(F.min("label").alias("label")))
        if it == 0:
            # One action yields BOTH sums: sum(node) over round 1's
            # output equals the initial identity-label sum (same node
            # set), so the pre-loop action the r12 shape paid is free.
            prev_sum, new_sum = new_labels.agg(
                F.sum(F.col("node").cast("decimal(38,0)")).alias("s0"),
                F.sum(F.col("label").cast("decimal(38,0)")).alias("s"),
            ).first()
        else:
            new_sum = new_labels.agg(
                F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
            ).first()[0]
        changed = 0 if new_sum == prev_sum else 1
        labels = new_labels
        prev_sum = new_sum
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge within max_iters={max_iters} "
        f"rounds ("
        + ("label sum still decreasing" if changed > 0 else "no rounds ran")
        + f"); pointer doubling engages from round 3, so this means component "
        f"diameter exceeds ~2^{max(max_iters - 2, 0)} — raise max_iters"
    )
