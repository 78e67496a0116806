"""Similarity search over embedding columns (SURVEY.md §2-B11 Q112-Q113
and the training-data mandate): brute-force cosine top-k as the exact
baseline, hyperplane-LSH and IVF as the sublinear scale paths.

The dot product is an explicit left-to-right double fold (zip_with +
aggregate) so the result is bit-deterministic and mirrors the oracle's
formula. All similarity math is JVM-side; no Python in the scan path.

Scale notes (100 TB / billions of vectors):
- brute force: queries are broadcast; candidates stream partition-wise;
  per-partition top-k heaps merge at the driver (TakeOrderedAndProject) —
  O(N) per query batch but embarrassingly parallel;
- LSH / IVF: candidates shrink to one bucket-join per probe — the join
  key (bucket id) is uniform by construction, so the shuffle is balanced.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Deterministic sequential-fold dot product in double precision."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


#: Above this many candidate rows the exact API stops materializing the
#: Q x N scored space and dispatches to the block-partitioned formulation
#: (bit-identical result, see :func:`block_topk_cosine`). At 1M rows the
#: crossJoin+window plan is still comfortable on a laptop; well past it,
#: the window's shuffle input grows as Q x N while the blocked path's
#: stays at Q x k x n_batches.
BRUTE_FORCE_DISPATCH_ROWS = 1_000_000


#: All-PAIRS dispatch threshold: the pair space is N(N-1)/2, so the
#: naive formulation blows up far below the 1M row count that guards
#: brute_force_topk. Above the threshold, allpairs_topk_cosine returns
#: the bit-identical list with vectorized scoring. 1000 rather than the
#: work-envelope-derived ~4000 because the interpreted-HOF cosine's
#: CONSTANT dominates long before the envelope does — measured round 8:
#: 2k vectors (2M pairs) cost 36-41 s on the crossJoin path vs <1 s
#: vectorized, leaving the bench SF non-monotonically SLOWER than the
#: x10 probe (which dispatched). At 1000 the reference formulation still
#: runs at the sf0.01 driver-gate (500 vectors), so the oracle exercises
#: it every round, and the 3-SF equality tests pin bit-identity between
#: the two paths.
ALLPAIRS_DISPATCH_ROWS = 1_000


#: Hard ceiling on :func:`allpairs_topk_cosine`'s broadcast-matrix
#: regime: ~1M x 64 doubles ~ 0.5 GB executor-side. Past it the operator
#: RAISES (VERDICT r7 item 2) instead of OOMing the driver — the caller
#: must generate candidates sublinearly first (LSH q113 / IVF q128 /
#: banded semantic-dedup q141) and verify only those pairs exactly.
ALLPAIRS_BROADCAST_ROWS = 1_000_000


def plan_size_bytes(df: DataFrame) -> int:
    """Catalyst's metadata size estimate for ``df`` (for a file source:
    file bytes × spark.sql.sources.fileCompressionFactor) — pure plan
    stats, NO job. The cheap-gate primitive (ADVICE r11): dispatch /
    broadcast decisions that only need order-of-magnitude input size
    should read this instead of running an eager count() inside query
    construction (which lands in every timed bench/sweep region)."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def _exceeds_rows(df: DataFrame, n: int) -> bool:
    """True iff ``df`` has more than ``n`` rows, ruling out small inputs
    for free first: Catalyst's sizeInBytes estimate (pure metadata, no
    job) short-circuits only when the estimate is below ``n`` BYTES —
    i.e. the table would have to average under 1 byte/row to actually
    hold ``n`` rows, which no id+vector (or any non-degenerate) layout
    does. The r7 advice measured Catalyst estimating 8 B/row on
    ``spark.range`` (below the 16 B/row this guard previously assumed)
    and dictionary/RLE parquet can dip lower still, so the divisor is
    pinned at 1 B/row: the short-circuit can now only MISS (pay a cheap
    count()) — never silently skip the dispatch a large table needs.
    Only a table that might exceed the threshold pays that one count()
    job."""
    return (
        df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes() > n
        and df.count() > n
    )


def brute_force_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    q_id: str = "q_id",
    q_vec: str = "q_vec",
    c_id: str = "c_id",
    c_vec: str = "c_vec",
    round_dp: int = 6,
    dispatch_rows: int = BRUTE_FORCE_DISPATCH_ROWS,
) -> DataFrame:
    """Exact cosine top-k: broadcast the (small) query set against all
    candidates, rank per query. Similarity is rounded BEFORE ranking and
    ties break on candidate id, so the top-k set is deterministic.

    Scale dispatch (VERDICT r6 item 3): when the candidate table exceeds
    ``dispatch_rows`` rows, the crossJoin+window formulation — whose
    shuffle input is the full Q x N scored space — is replaced by
    :func:`block_topk_cosine`, which reduces each Arrow batch to <= Q x k
    rows inside the task before any shuffle. The two formulations are
    bit-identical (per-batch top-k under the final total order is a
    lossless pre-filter), so callers see the same result either way; the
    exact baseline simply cannot be naively invoked at corpus scale.
    The guard is free below the threshold: Catalyst's sizeInBytes
    estimate (pure metadata, no job) rules out inputs whose estimate is
    under ``dispatch_rows`` BYTES (a 1 byte/row floor no real layout
    undercuts — see :func:`_exceeds_rows`), and only a table that MIGHT
    exceed the threshold pays one count() job, which is noise next to
    the crossJoin it guards against. Pass
    ``dispatch_rows=None`` to pin the crossJoin path (plan tests do)."""
    if dispatch_rows is not None and _exceeds_rows(candidates, dispatch_rows):
        q_rows = [
            (r[q_id], list(r[q_vec])) for r in queries.select(q_id, q_vec).collect()
        ]
        blocked = block_topk_cosine(
            candidates, q_rows, k=k, c_id=c_id, c_vec=c_vec, round_dp=round_dp
        )
        # block_topk_cosine emits the canonical q_id/c_id names; restore
        # the caller's aliases so both paths are drop-in identical.
        return blocked.select(
            F.col("q_id").alias(q_id),
            F.col("c_id").alias(c_id),
            "cos",
            "rank",
        )
    # r13 (guide §1.2 per-task work): the norms are per-VECTOR values,
    # so compute them once per side BEFORE the crossJoin instead of
    # re-folding both inside every pair's cosine — 1 interpreted
    # aggregate fold per pair instead of 3 (HOF folds never enter
    # whole-stage codegen). Bit-identical: each norm is the same
    # sequential fold over the same vector, and cos = dot / (qn * cn)
    # evaluates the identical doubles in the identical order.
    qn = queries.withColumn("__qn", l2_norm(F.col(q_vec)))
    cn = candidates.withColumn("__cn", l2_norm(F.col(c_vec)))
    joined = cn.crossJoin(F.broadcast(qn)).filter(F.col(q_id) != F.col(c_id))
    scored = joined.select(
        q_id,
        c_id,
        F.round(
            dot(F.col(q_vec), F.col(c_vec)) / (F.col("__qn") * F.col("__cn")),
            round_dp,
        ).alias("cos"),
    )
    w = Window.partitionBy(q_id).orderBy(F.col("cos").desc(), F.col(c_id))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def random_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Fixed-seed hyperplanes passed to Spark as literals, so every run
    (and every resume) produces identical signatures."""
    rng = np.random.RandomState(seed)
    return rng.randn(n_planes, dim).astype(float).tolist()


def hyperplane_signature(vec: Column, planes: list[list[float]]) -> Column:
    """Bit-signature: bit i set iff dot(vec, plane_i) > 0."""
    sig = None
    for i, p in enumerate(planes):
        plane = F.array(*[F.lit(float(x)) for x in p])
        bit = F.when(dot(vec, plane) > 0, F.lit(1 << i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sig = bit if sig is None else sig + bit
    return sig


def multiprobe_keys(sig: Column, n_planes: int) -> Column:
    """The signature plus all hamming-distance-1 neighbors (multi-probe
    LSH): recall of adjacent buckets without extra tables."""
    return F.array(
        sig, *[sig.bitwiseXOR(F.lit(1 << i).cast("long")) for i in range(n_planes)]
    )


def lsh_candidates_multitable(
    queries: DataFrame,
    candidates: DataFrame,
    dim: int,
    q_vec: str = "q_vec",
    c_vec: str = "c_vec",
    n_tables: int = 8,
    planes_per_table: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Candidate pairs from L hyperplane tables with Hamming<=1 multiprobe
    on the query side. Each table contributes one uniform bucket-join;
    the union is deduplicated. Scale shape: L shuffle joins on small int
    keys — no quadratic pair space, no skew (buckets are hash-uniform)."""
    out = None
    for ti in range(n_tables):
        planes = random_hyperplanes(dim, planes_per_table, seed=seed + 1000 * ti)
        qs = queries.withColumn(
            "__probe",
            F.explode(
                multiprobe_keys(
                    hyperplane_signature(F.col(q_vec), planes), planes_per_table
                )
            ),
        )
        cs = candidates.withColumn(
            "__sig", hyperplane_signature(F.col(c_vec), planes)
        )
        hits = qs.join(cs, qs["__probe"] == cs["__sig"]).drop("__probe", "__sig")
        out = hits if out is None else out.unionByName(hits)
    return out.distinct()


def _seq_kernels():
    """``(seq_dot, seq_norm)``: A·Bᵀ and the row norms, accumulated dim
    by dim, left to right (the fp order of :func:`dot` and the oracle).
    Local functions, so cloudpickle ships them to the Python workers by
    value: those may not have this package on their path."""

    def seq_dot(A, B):
        acc = np.zeros((A.shape[0], B.shape[0]))
        for j in range(A.shape[1]):
            acc += np.outer(A[:, j], B[:, j])
        return acc

    def seq_norm(A):
        acc = np.zeros(A.shape[0])
        for j in range(A.shape[1]):
            acc += A[:, j] * A[:, j]
        return np.sqrt(acc)

    return seq_dot, seq_norm


def block_topk_cosine(
    candidates: DataFrame,
    queries: list[tuple[int, list[float]]],
    k: int = 5,
    c_id: str = "c_id",
    c_vec: str = "c_vec",
    round_dp: int = 6,
) -> DataFrame:
    """Block-partitioned exact cosine top-k — the 100 TB shape of brute
    force (SURVEY.md §4.3): the query set ships to every task as a numpy
    matrix; each Arrow batch of candidates is scored with vectorized
    per-dimension accumulation and reduced to ≤ Q×k rows IN the task, so
    the shuffle/merge stage sees Q × k × n_batches rows — never the
    Q × N scored space that the crossJoin+window formulation
    materializes. The global merge is a window over that tiny remainder.

    Per-batch top-k under the total order (cos desc, c_id asc) — the same
    order the final window uses — is a lossless pre-filter, so the result
    is bit-identical to the crossJoin formulation (q129 shares q112's
    oracle). Accumulation is per-dimension left-to-right, matching the
    sequential-fold semantics of :func:`dot` and the DuckDB oracle, so
    rounding at ``round_dp`` agrees across engines — up to the np.round
    (half-to-even) vs F.round (HALF_UP) tie-break, which can only differ
    on a cosine landing exactly on a half at the last kept decimal:
    measure-zero on real float data and pinned empirically by the shared
    oracle, not guaranteed by construction (r7 advice)."""
    import numpy as np
    import pandas as pd

    qids = [int(q) for q, _ in queries]
    Q = np.asarray([v for _, v in queries], dtype=np.float64)

    seq_dot, seq_norm = _seq_kernels()
    qn = seq_norm(Q)

    def score_batches(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            C = np.asarray(pdf[c_vec].tolist(), dtype=np.float64)
            ids = pdf[c_id].to_numpy()
            cos = np.round(
                seq_dot(Q, C) / np.outer(qn, seq_norm(C)), round_dp
            )
            out_q: list[int] = []
            out_c: list[int] = []
            out_s: list[float] = []
            for i, qid in enumerate(qids):
                mask = ids != qid
                s, cid = cos[i][mask], ids[mask]
                kk = min(k, len(s))
                if not kk:
                    continue
                order = np.lexsort((cid, -s))[:kk]
                out_q += [qid] * kk
                out_c += cid[order].tolist()
                out_s += s[order].tolist()
            yield pd.DataFrame({"q_id": out_q, "c_id": out_c, "cos": out_s})

    partial = candidates.select(c_id, c_vec).mapInPandas(
        score_batches, "q_id long, c_id long, cos double"
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("c_id"))
    return partial.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def allpairs_topk_cosine(
    df: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
    max_broadcast_rows: int | None = ALLPAIRS_BROADCAST_ROWS,
    known_rows: int | None = None,
) -> DataFrame:
    """Exact global top-k most-similar PAIRS (``id_a < id_b``) — the
    vectorized form of the self-crossJoin + HOF-cosine formulation, which
    is interpreted per pair and 2 orders of magnitude slower (round-7
    scale probe: 814 s vs seconds at 20k vectors).

    Shape: the full (id, vector) matrix broadcasts to every task; each
    Arrow batch scores ONLY its own rows against the matrix (mask
    ``batch_id < matrix_id``, so each unordered pair is produced exactly
    once, in the batch owning its smaller id) and reduces to <= k rows
    per batch under the final total order (cos desc, id_a, id_b) — a
    lossless pre-filter, as in :func:`block_topk_cosine` — so the merge
    stage sees k x n_batches rows, never the N²/2 pair space.
    Accumulation is per-dimension left-to-right (seq_dot), matching the
    HOF fold and the DuckDB oracle bit-for-bit BEFORE rounding; see the
    rounding tie-break caveat below for the (measure-zero) case where
    the rounding mode itself could differ.

    Declared regime: the broadcast matrix bounds this operator at
    ~10^6 x 64 doubles (~0.5 GB executor-side) — the EXACT-baseline
    regime — and that bound is ENFORCED (VERDICT r7 item 2): inputs past
    ``max_broadcast_rows`` raise before anything is collected, directing
    the caller to sublinear candidate generation (LSH q113 / IVF q128 /
    banded q122's q141 sibling), the same regime split brute_force_topk
    declares for query top-k. The row probe reuses the metadata-first
    :func:`_exceeds_rows` guard, so in-regime calls pay at most one
    count() job.

    Rounding tie-break caveat (r7 advice): np.round is half-to-even
    while the crossJoin formulation's F.round (and the DuckDB oracle)
    are HALF_UP, so cross-formulation bit-identity holds unless a cosine
    lands EXACTLY on a half at the ``round_dp``-th decimal — measure-zero
    on real float data (a cosine's double expansion continuing past 6
    decimals with all-zeros), and empirically pinned by the 3-SF
    equality tests rather than guaranteed by construction."""
    import numpy as np
    import pandas as pd

    # callers that already hold the row count (q141 counts its cert
    # corpus for the bucket split) pass known_rows so the regime guard
    # skips _exceeds_rows' extra count() scan over the same frame
    if max_broadcast_rows is not None and (
        known_rows > max_broadcast_rows
        if known_rows is not None
        else _exceeds_rows(df, max_broadcast_rows)
    ):
        raise ValueError(
            f"allpairs_topk_cosine is an exact-baseline kernel bounded by its "
            f"broadcast matrix (> {max_broadcast_rows} rows given): generate "
            f"candidates sublinearly first (hyperplane LSH q113, IVF q128, or "
            f"banded semantic dedup q141) and exact-verify only those pairs."
        )
    rows = df.select(id_col, vec_col).collect()
    ids_all = np.asarray([int(r[0]) for r in rows], dtype=np.int64)
    M = np.asarray([list(r[1]) for r in rows], dtype=np.float64)

    seq_dot, seq_norm = _seq_kernels()
    sc = df.sparkSession.sparkContext
    bc = sc.broadcast((ids_all, M, seq_norm(M)))

    def score_batches(batches):
        ids_c, Mat, norm_c = bc.value
        # chunk the batch rows so the chunk x N score block stays ~32 MB
        # regardless of corpus size (the matmul is the work either way)
        step = max(1, 4_000_000 // max(len(ids_c), 1))
        for pdf in batches:
            for lo in range(0, len(pdf), step):
                part = pdf.iloc[lo : lo + step]
                if not len(part):
                    continue
                A = np.asarray(part[vec_col].tolist(), dtype=np.float64)
                ids_a = part[id_col].to_numpy(dtype=np.int64)
                cos = np.round(
                    seq_dot(A, Mat) / np.outer(seq_norm(A), norm_c), round_dp
                )
                a_idx, c_idx = np.nonzero(ids_a[:, None] < ids_c[None, :])
                if not len(a_idx):
                    continue
                s = cos[a_idx, c_idx]
                ia, ib = ids_a[a_idx], ids_c[c_idx]
                order = np.lexsort((ib, ia, -s))[:k]
                yield pd.DataFrame(
                    {"id_a": ia[order], "id_b": ib[order], "cos": s[order]}
                )

    partial = df.select(id_col, vec_col).mapInPandas(
        score_batches, "id_a long, id_b long, cos double"
    )
    return partial.orderBy(F.col("cos").desc(), "id_a", "id_b").limit(k)


def ivf_assign(
    df: DataFrame, vec_col: str, centroids: list[list[float]], out: str = "ivf_cell",
    n_probe: int = 1,
) -> DataFrame:
    """IVF coarse quantization: assign each vector to its n_probe nearest
    centroid cells (by cosine). Centroids are literals — at real scale
    they'd come from a sampled k-means fit, broadcast to executors."""
    cents = F.array(*[F.array(*[F.lit(float(x)) for x in c]) for c in centroids])
    scored = F.transform(
        cents,
        lambda c, i: F.struct(
            F.round(cosine(F.col(vec_col), c), 9).alias("cos"), i.alias("cell")
        ),
    )
    top = F.slice(F.reverse(F.array_sort(scored)), 1, n_probe)
    return df.withColumn(out, F.transform(top, lambda s: s["cell"]))


def ivf_assign_batched(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids,
    out: str = "ivf_cell",
    n_probe: int = 1,
) -> DataFrame:
    """Vectorized IVF coarse quantization for LARGE centroid counts — the
    scale sibling of :func:`ivf_assign`, whose per-(vector, centroid)
    interpreted-HOF cosine and k×dim literal array stop being viable past
    a few dozen centroids (at k = √N cells the literal plan alone is
    megabytes). Centroids ride an L2-normalized numpy broadcast variable;
    each Arrow batch scores against the whole matrix in one matmul and
    keeps its ``n_probe`` best cells. Ties on cosine break toward the
    LOWER cell id (np stable argsort) — ivf_assign's HOF array_sort
    breaks toward the higher — a measure-zero divergence on real float
    cosines, irrelevant to the scaled paths that use this variant (no
    bit-identity contract ties them to the interpreted form). Driver
    state is the k×dim centroid matrix: √N×dim doubles at the q141
    scaling (√(10^9)×64 ≈ 16 MB at a billion vectors); past that,
    centroids come from :func:`kmeans_fit` persisted to a table and the
    assignment becomes a broadcast join on the fitted cells.

    Returns ``(id_col, vec_col, out)`` with ``out`` an int array, the
    same shape ivf_assign yields for its consumers' explode."""
    import numpy as np
    import pandas as pd

    C = np.asarray(centroids, dtype=np.float64)
    # zero-norm floor: an all-zero vector (padding row, failed encode)
    # must yield finite (zero) cosines and deterministic cell choice,
    # not a NaN row whose argsort is arbitrary (the interpreted
    # ivf_assign's ANSI division would THROW on the same input, so any
    # zero vector is already outside the equality contract)
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-300)
    b_cents = df.sparkSession.sparkContext.broadcast(Cn)
    n_keep = min(n_probe, len(C))

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                # an empty Arrow batch tolist()s to a 1-D array and the
                # axis=1 norm raises AxisError; skip it like the allpairs
                # kernel's empty sub-chunk guard (r8 advice)
                continue
            M = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            Mn = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-300)
            cos = Mn @ b_cents.value.T
            top = np.argsort(-cos, axis=1, kind="stable")[:, :n_keep]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    vec_col: pdf[vec_col],
                    out: [row.astype("int32").tolist() for row in top],
                }
            )

    return df.select(id_col, vec_col).mapInPandas(
        assign, f"{id_col} long, {vec_col} array<double>, {out} array<int>"
    )


def kmeans_fit(
    vecs: DataFrame,
    vec_col: str,
    k: int = 16,
    n_iters: int = 5,
    id_col: str = "vec_id",
    reliable: bool = False,
):
    """Lloyd's k-means over an embedding column — the centroid-training
    step the IVF operators (ivf_assign / q128 / q141) consume. Init is
    deterministic (the k lowest-id vectors); each iteration is

      assign:  argmin_c ||x - centroid_c||²  (distances unrolled as k
               codegen'd double folds — no UDF, no explode)
      update:  per-dimension decimal-exact mean of each cluster's
               members (posexplode → groupBy(cluster, dim) → re-collect)

    Centroids (k × dim doubles) are driver-side state, collected once
    per iteration — the standard structure for fixpoint ML on a
    DataFrame engine (Spark MLlib's own KMeans does the same); the DATA
    never leaves executors, and each iteration is one narrow assign pass
    + one (cluster, dim)-keyed partial-aggregated shuffle whose volume
    is k × dim × partitions, independent of row count.

    Returns (assignments DataFrame [id, cluster, dist2], centroids,
    inertia_history, assign_cents) where ``assign_cents`` is the
    centroid set the FINAL assignment used (centroids are then updated
    once more). The inertia sequence is non-increasing — Lloyd's
    invariant, property-tested against ``assign_cents``.

    ``reliable=True`` swaps the per-iteration ``localCheckpoint`` for a
    reliable ``checkpoint`` (configured checkpoint dir): executor-local
    blocks die with their executor, so a long fit on a big cluster pays
    the assignments-table write for fault-tolerance (VERDICT r3)."""
    from s4_spark.operators.lineage import cut_lineage

    first = vecs.orderBy(id_col).limit(k).select(vec_col).collect()
    cents = [list(map(float, r[0])) for r in first]
    inertia_hist: list[float] = []
    assigned = None
    assign_cents = cents
    dim = len(cents[0])
    for _ in range(n_iters):
        assign_cents = [list(c) for c in cents]
        # k distance folds as HOFs. Interpreted (HOFs never codegen), but
        # the unrolled-SQL alternative (k x dim multiply-add terms) blows
        # the 64 KB janino method limit at 16x64 and falls back to
        # interpreted anyway — measured identical, so keep the clean form
        dists = [
            F.aggregate(
                F.zip_with(
                    F.col(vec_col),
                    F.array(*[F.lit(v) for v in c]),
                    lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            for c in cents
        ]
        darr = F.array(*dists)
        assigned = cut_lineage(
            vecs.select(
                F.col(id_col),
                F.col(vec_col),
                (F.array_position(darr, F.array_min(darr)) - 1)
                .cast("int")
                .alias("cluster"),
                F.array_min(darr).alias("dist2"),
            ),
            reliable,  # fixpoint loop: cut lineage per round
        )
        inertia_hist.append(
            assigned.agg(
                F.sum(F.col("dist2").cast("decimal(30,6)")).cast("double")
            ).collect()[0][0]
        )
        # per-dim means as ONE generated SQL aggregate (dim wide-agg
        # columns, map-side combined) — the posexplode formulation
        # shuffled rows x dim exploded rows per iteration (q111 lesson:
        # one JVM parse, partial agg keeps the shuffle at k x dims)
        sums = ", ".join(
            f"cast(sum(cast({vec_col}[{i}] as decimal(30,6))) as double)"
            f" as s{i}"
            for i in range(dim)
        )
        new_cents_rows = assigned.sparkSession.sql(
            f"SELECT cluster, count(*) AS n, {sums} FROM {{src}}"
            " GROUP BY cluster",
            src=assigned,
        ).collect()
        by_cluster = {
            r.cluster: [r[f"s{i}"] / r.n for i in range(dim)]
            for r in new_cents_rows
        }
        cents = [
            by_cluster.get(c, cents[c])  # empty cluster keeps its centroid
            for c in range(k)
        ]
    return assigned, cents, inertia_hist, assign_cents


def pq_train_codebooks(
    sample: list[list[float]], m: int = 8, k: int = 16, n_iters: int = 8
) -> list[list[list[float]]]:
    """Product-quantization codebooks: split the dimension into ``m``
    subspaces and run Lloyd's k-means per subspace on a SAMPLE
    (driver-side numpy — standard PQ practice: codebooks are k×(dim/m)
    constants trained on a bounded sample, then broadcast; the corpus
    itself never leaves executors). Deterministic init (first k distinct
    subvectors), so every run yields identical codebooks.

    Returns ``codebooks[m][k][dim/m]``."""
    X = np.asarray(sample, dtype=np.float64)
    d = X.shape[1]
    assert d % m == 0, f"dim {d} not divisible by m={m}"
    sub = d // m
    books: list[list[list[float]]] = []
    for mi in range(m):
        S = X[:, mi * sub : (mi + 1) * sub]
        C = S[:k].copy()
        for _ in range(n_iters):
            d2 = ((S[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(k):
                members = S[assign == c]
                if len(members):
                    C[c] = members.mean(axis=0)
        books.append(C.tolist())
    return books


def pq_encode(
    df: DataFrame,
    vec_col: str,
    codebooks: list[list[list[float]]],
    out: str = "codes",
) -> DataFrame:
    """Encode each vector as ``m`` small ints (nearest codeword per
    subspace) — 100 TB rationale: a 64-dim float64 vector (512 B)
    becomes m=8 bytes of codes; the ANN working set shrinks ~64× and
    distance math turns into lookup-table joins (see the ADC flow in
    q170). The m×k argmin distance folds are emitted as ONE generated
    SQL expression parsed in a single JVM call — building them
    Column-by-Column costs thousands of py4j round trips and ~35 s of
    driver time for m=8, k=16 (the q111 minhash lesson, measured again
    here); no UDF either way."""
    sub = len(codebooks[0][0])

    def dist_sql(mi: int, cw: list[float]) -> str:
        lits = ", ".join(f"{float(v)!r}D" for v in cw)
        return (
            f"aggregate(zip_with(slice({vec_col}, {mi * sub + 1}, {sub}),"
            f" array({lits}),"
            " (x, y) -> (cast(x as double) - y) * (cast(x as double) - y)),"
            " 0D, (acc, v) -> acc + v)"
        )

    subspace_exprs = []
    for mi, book in enumerate(codebooks):
        darr = f"array({', '.join(dist_sql(mi, cw) for cw in book)})"
        subspace_exprs.append(
            f"cast(array_position({darr}, array_min({darr})) - 1 as int)"
        )
    return df.withColumn(out, F.expr(f"array({', '.join(subspace_exprs)})"))


def pq_adc_lut_rows(
    queries: list[tuple[int, list[float]]], codebooks: list[list[list[float]]]
) -> list[tuple[int, int, int, float]]:
    """Asymmetric-distance lookup table: for each (query, subspace,
    codeword), the exact squared L2 distance between the query's
    subvector and the codeword. Q×m×k rows — tiny, broadcastable;
    approximate distance of any encoded candidate is then a SUM of m
    lookups, which Spark expresses as one broadcast join + partial agg."""
    sub = len(codebooks[0][0])
    rows = []
    for qid, vec in queries:
        q = np.asarray(vec, dtype=np.float64)
        for mi, book in enumerate(codebooks):
            seg = q[mi * sub : (mi + 1) * sub]
            for ci, cw in enumerate(book):
                d2 = float(((seg - np.asarray(cw)) ** 2).sum())
                rows.append((int(qid), mi, ci, d2))
    return rows
