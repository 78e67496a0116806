"""Property-based tests (hypothesis): operator invariants that must hold
for ALL inputs, not just the fixture tables.

Each property runs a bounded number of examples (Spark job per example is
~0.5s); properties are chosen to be deterministic — no statistical
assertions that could flake.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from s4_spark.operators.skew import salted_join
from s4_spark.operators import dedup as D

SETTINGS = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

keys = st.integers(min_value=0, max_value=9)
rows = st.lists(st.tuples(st.integers(0, 1000), keys), min_size=0, max_size=40)
dim_rows = st.lists(keys, min_size=0, max_size=12)


@given(fact=rows, dim=dim_rows, n_salts=st.integers(1, 8))
@SETTINGS
def test_salted_join_equals_plain_join(spark, fact, dim, n_salts):
    """salted_join is result-invariant vs the plain join for any fact/dim
    multiset and any salt count (including dup keys on both sides)."""
    f = spark.createDataFrame(
        [(i, k) for i, k in fact] or [(None, None)], "row_id int, k int"
    ).filter(F.col("row_id").isNotNull())
    d = spark.createDataFrame(
        [(k,) for k in dim] or [(None,)], "dk int"
    ).filter(F.col("dk").isNotNull())
    salted = salted_join(f, d, on=[("k", "dk")], skewed_row_col="row_id", n_salts=n_salts)
    plain = f.join(d, f.k == d.dk)
    got = sorted(map(tuple, salted.select("row_id", "k", "dk").collect()))
    want = sorted(map(tuple, plain.select("row_id", "k", "dk").collect()))
    assert got == want


texts = st.lists(
    st.text(alphabet="ab c", min_size=0, max_size=30), min_size=1, max_size=25
)


@given(docs=texts)
@SETTINGS
def test_exact_dedup_keeps_one_per_distinct_text(spark, docs):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(docs)], "id long, text string")
    deduped = df.dropDuplicates(["text"])
    assert deduped.count() == len(set(docs))
    # kept rows are a subset of the input and cover every distinct text
    kept = {r["text"] for r in deduped.collect()}
    assert kept == set(docs)


@given(docs=st.lists(st.text(alphabet="abc xyz", min_size=12, max_size=60),
                     min_size=2, max_size=10))
@SETTINGS
def test_minhash_signature_deterministic_and_injective_on_equal_sets(spark, docs):
    """Same shingle set ⟹ same MinHash signature (determinism is what
    makes LSH resumable and retry-safe); signatures have the declared
    length and value range."""
    rows = [(i, t) for i, t in enumerate(docs)] + [(len(docs) + i, t) for i, t in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    ex = D.shingles_exploded(df, "doc_id", n=2)
    sig = D.with_minhash_signature(ex, "doc_id", num_hashes=16)
    out = {r["doc_id"]: tuple(r["sig"]) for r in sig.collect()}
    for i, t in enumerate(docs):
        a, b = out.get(i), out.get(len(docs) + i)
        assert a == b  # duplicate text ⟹ identical signature
        if a is not None:
            assert len(a) == 16
            assert all(0 <= v for v in a)


@given(docs=st.lists(st.text(alphabet="abc xyz", min_size=12, max_size=60),
                     min_size=2, max_size=12))
@SETTINGS
def test_lsh_candidate_pairs_equal_band_self_join(spark, docs):
    """The r13 bucket-grouped pair emission produces EXACTLY the pair set
    of the reference band-table self-join it replaced, with the declared
    (id_a < id_b, distinct) normalization — for any doc multiset,
    including duplicate texts (multi-element buckets) and empty-shingle
    docs (no bands)."""
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id long, text string"
    )
    ex = D.shingles_exploded(df, "doc_id", n=2)
    sig = D.with_minhash_signature(ex, "doc_id", num_hashes=8)
    got = {
        (r["id_a"], r["id_b"])
        for r in D.lsh_candidate_pairs(sig, "doc_id", bands=4, rows=2).collect()
    }
    bd = D.banded_signatures(sig, "doc_id", bands=4, rows=2)
    a, b = bd.alias("a"), bd.alias("b")
    want = {
        (r["id_a"], r["id_b"])
        for r in a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .distinct()
        .collect()
    }
    assert got == want
    assert all(x < y for x, y in got)


@given(pairs=st.lists(st.tuples(st.integers(0, 5), st.integers(0, 100)),
                      min_size=1, max_size=30))
@SETTINGS
def test_jaccard_bounds_and_self_similarity(spark, pairs):
    """Exact Jaccard ∈ [0,1]; a set with itself is exactly 1."""
    df = spark.createDataFrame(
        [(u, f"tok{v} tok{v+1} tok{u}") for u, v in pairs], "doc_id long, text string"
    ).dropDuplicates(["doc_id"])
    sets = D.shingle_sets(df, "doc_id", n=1)
    a = sets.select(F.col("doc_id").alias("id_a"), F.col("shingles").alias("sa"))
    b = sets.select(F.col("doc_id").alias("id_b"), F.col("shingles").alias("sb"))
    j = a.crossJoin(b).withColumn("jac", D.jaccard(F.col("sa"), F.col("sb")))
    for r in j.collect():
        assert 0.0 <= r["jac"] <= 1.0
        if r["id_a"] == r["id_b"]:
            assert r["jac"] == 1.0


edge_lists = st.lists(
    st.tuples(st.integers(0, 15), st.integers(0, 15)).filter(lambda p: p[0] != p[1]),
    min_size=0,
    max_size=20,
)


@given(edges=edge_lists)
@SETTINGS
def test_connected_components_matches_union_find(spark, edges):
    """connected_components agrees with a driver-side union-find on any
    random edge list (dup edges, self-chains, arbitrary order)."""
    from s4_spark.operators.dedup import connected_components

    if not edges:
        return
    pairs = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in edges], "id_a int, id_b int"
    )
    got = {
        (r.node, r.label) for r in connected_components(pairs).collect()
    }

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical label of a component = min member id
    comp: dict[int, list[int]] = {}
    for n in parent:
        comp.setdefault(find(n), []).append(n)
    want = {(n, min(members)) for root, members in comp.items() for n in members}
    assert got == want, (sorted(got), sorted(want))


@given(
    chain_len=st.integers(5, 30),
    extra=st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)).filter(
            lambda p: p[0] != p[1]
        ),
        max_size=8,
    ),
)
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_connected_components_chain_heavy_matches_union_find(
    spark, chain_len, extra
):
    """Deep-chain graphs (diameter past the round-3 doubling gate) plus
    random shortcut edges must still match a driver-side union-find —
    exercises the pointer-doubling path the small random graphs in
    test_connected_components_matches_union_find never reach."""
    from s4_spark.operators.dedup import connected_components

    edges = [(i, i + 1) for i in range(chain_len)] + extra
    pairs = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in edges], "id_a int, id_b int"
    )
    got = {(r.node, r.label) for r in connected_components(pairs).collect()}

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp: dict[int, list[int]] = {}
    for n in parent:
        comp.setdefault(find(n), []).append(n)
    want = {(n, min(members)) for root, members in comp.items() for n in members}
    assert got == want


def test_connected_components_long_path_converges(spark):
    """VERDICT r6 item 2: a path graph deeper than the iteration cap must
    still label correctly. Pure min-propagation needs diameter rounds (41
    here > max_iters=20) and used to fall through the cap returning
    silently-wrong labels; pointer doubling converges in O(log diameter)
    (~6 rounds for a 42-node path), so the default cap is ample."""
    from s4_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(41)], "id_a int, id_b int"
    )
    got = {(r.node, r.label) for r in connected_components(pairs).collect()}
    assert got == {(i, 0) for i in range(42)}


def test_connected_components_nonconvergence_raises(spark):
    """The cap must be loud: when the fixpoint is not reached within
    max_iters, connected_components raises instead of returning
    partially-propagated labels (the r6 latent defect)."""
    import pytest as _pytest

    from s4_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "id_a int, id_b int"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iters=1)


@given(
    counts=st.lists(st.integers(1, 1000), min_size=1, max_size=6),
)
@SETTINGS
def test_temperature_permille_invariants(spark, counts):
    """q150's rate formula: permille is in (0, 1000], monotonically
    non-increasing in language size, and the rarest language keeps
    everything (permille exactly 1000)."""
    import math

    nmin = min(counts)
    permille = [math.floor(1000 * math.sqrt(nmin / n)) for n in counts]
    assert all(0 < p <= 1000 for p in permille)
    assert permille[counts.index(nmin)] == 1000
    order = sorted(range(len(counts)), key=lambda i: counts[i])
    for i, j in zip(order, order[1:]):
        assert permille[i] >= permille[j]


@given(
    seed=st.integers(0, 2**31 - 1),
    n=st.integers(8, 40),
    k=st.integers(2, 5),
)
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_kmeans_inertia_monotone_and_nearest(spark, seed, n, k):
    """Lloyd's invariants on random data: (1) inertia never increases
    across iterations; (2) after the final assignment, every point's
    recorded dist2 equals its distance to the nearest centroid of that
    round's centroid set."""
    import random

    from s4_spark.operators.similarity import kmeans_fit

    rng = random.Random(seed)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(4)]) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    assigned, cents, hist, assign_cents = kmeans_fit(
        df, "embedding", k=k, n_iters=3
    )
    assert all(a >= b - 1e-9 for a, b in zip(hist, hist[1:])), hist
    got = {r.vec_id: (r.cluster, r.dist2) for r in assigned.collect()}
    vecs = dict(rows)
    for vid, (cl, d2) in got.items():
        dists = [
            sum((x - y) ** 2 for x, y in zip(vecs[vid], c))
            for c in assign_cents
        ]
        assert abs(d2 - min(dists)) < 1e-9, (vid, d2, min(dists))
        assert abs(dists[cl] - min(dists)) < 1e-12, (vid, cl)


def test_reliable_checkpoint_paths_identical(spark):
    """VERDICT r3 item 1: fixpoint loops expose reliable=True routing
    lineage cuts through df.checkpoint() (survives executor loss on a
    cluster) instead of localCheckpoint. Results must be bit-identical on
    both paths for CC and k-means."""
    import random

    from s4_spark.operators.dedup import connected_components
    from s4_spark.operators.similarity import kmeans_fit

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (8, 8)], "id_a int, id_b int"
    )
    local = {(r.node, r.label) for r in connected_components(pairs).collect()}
    rel = {
        (r.node, r.label)
        for r in connected_components(pairs, reliable=True).collect()
    }
    assert local == rel

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(4)]) for i in range(24)]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    a1, c1, h1, ac1 = kmeans_fit(df, "embedding", k=3, n_iters=3)
    a2, c2, h2, ac2 = kmeans_fit(df, "embedding", k=3, n_iters=3, reliable=True)
    assert c1 == c2 and h1 == h2 and ac1 == ac2
    assert sorted(map(tuple, a1.collect())) == sorted(map(tuple, a2.collect()))


def test_global_prefix_matches_single_reducer_window(spark):
    """operators/prefix.py: the two-phase global rank + running sum must
    be bit-identical to the single-reducer window under the same total
    order — on seeded random data with duplicate proxy values (the case
    where bucket boundaries could mis-assign if intervals overlapped)."""
    import random

    from pyspark.sql import Window

    from s4_spark.operators.prefix import with_global_prefix

    rng = random.Random(11)
    rows = [
        (i, rng.randrange(0, 40), rng.randrange(1, 100)) for i in range(500)
    ]
    df = spark.createDataFrame(rows, "id long, proxy long, val long")
    got = {
        r.id: (r.rid, r.run_sum)
        for r in with_global_prefix(
            df, "proxy", ["proxy", "id"], value_col="val", n_buckets=6
        ).collect()
    }
    w = Window.orderBy("proxy", "id")
    want = {
        r.id: (r.rid, r.run_sum)
        for r in df.select(
            "id",
            (F.row_number().over(w) - 1).alias("rid"),
            F.sum("val")
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("long")
            .alias("run_sum"),
        ).collect()
    }
    assert got == want


words = st.lists(
    st.text(alphabet="abcde", min_size=1, max_size=4), min_size=0, max_size=30
)


@given(a=words, b=words)
@SETTINGS
def test_cms_merges_counterwise_and_upper_bounds(spark, a, b):
    """CMS mergeability (the 100 TB rollup claim): sketch(A ⊎ B) equals
    the counter-wise outer sum of sketch(A) and sketch(B); and every
    estimate upper-bounds the true count."""
    from s4_spark.operators.sketch import cms_lookup, cms_sketch

    depth, width = 3, 32  # narrow width to force collisions
    schema = "w string"
    df_a = spark.createDataFrame([(w,) for w in a], schema)
    df_b = spark.createDataFrame([(w,) for w in b], schema)
    df_ab = spark.createDataFrame([(w,) for w in a + b], schema)

    def counters(df):
        return {
            (r["d"], r["bucket"]): r["c"]
            for r in cms_sketch(df, "w", depth, width).collect()
        }

    ca, cb, cab = counters(df_a), counters(df_b), counters(df_ab)
    merged = dict(ca)
    for key, c in cb.items():
        merged[key] = merged.get(key, 0) + c
    assert merged == cab

    vocab = sorted(set(a + b))
    if vocab:
        probe = spark.createDataFrame([(w,) for w in vocab], schema)
        est = {
            r["w"]: r["cms_est"]
            for r in cms_lookup(
                cms_sketch(df_ab, "w", depth, width), probe, "w", depth, width
            ).collect()
        }
        from collections import Counter

        truth = Counter(a + b)
        for w in vocab:
            assert est[w] >= truth[w], (w, est[w], truth[w])


@given(a=st.lists(st.integers(0, 10_000), min_size=0, max_size=40),
       b=st.lists(st.integers(0, 10_000), min_size=0, max_size=40),
       k=st.integers(2, 16))
@SETTINGS
def test_kmv_merge_equals_sketch_of_union(spark, a, b, k):
    """KMV mergeability: the k smallest of the two per-set sketches'
    union equals the sketch of the concatenated input — per-shard
    sketches suffice for the union estimator."""
    from s4_spark.operators.sketch import kmv_merge, kmv_sketch

    schema = "v long"
    df_a = spark.createDataFrame([(v,) for v in a], schema)
    df_b = spark.createDataFrame([(v,) for v in b], schema)
    df_ab = spark.createDataFrame([(v,) for v in a + b], schema)
    merged = sorted(
        r["h"] for r in kmv_merge(
            kmv_sketch(df_a, "v", k), kmv_sketch(df_b, "v", k), k
        ).collect()
    )
    direct = sorted(r["h"] for r in kmv_sketch(df_ab, "v", k).collect())
    assert merged == direct


@given(
    lrows=st.lists(st.tuples(st.integers(0, 3), st.integers(0, 50)),
                   min_size=0, max_size=25),
    rrows=st.sets(st.tuples(st.integers(0, 3), st.integers(0, 50)),
                  min_size=0, max_size=25),
)
@SETTINGS
def test_asof_join_matches_reference(spark, lrows, rrows):
    """The union-merge as-of join equals the direct per-row definition
    (latest right ts <= left ts within the key, <= inclusive). Right
    rows get unique (key, ts) — the operator's tie order among equal-ts
    right rows of one key is unspecified, like every as-of engine."""
    from datetime import datetime, timezone

    from s4_spark.operators.asof import asof_join

    def ts(v):
        return datetime.fromtimestamp(v * 3600, tz=timezone.utc).replace(
            tzinfo=None
        )

    left = spark.createDataFrame(
        [(k, ts(v), i) for i, (k, v) in enumerate(lrows)],
        "k long, lts timestamp, lid long",
    )
    right = spark.createDataFrame(
        [(k, ts(v), k * 1000 + v) for (k, v) in rrows],
        "k long, rts timestamp, rval long",
    )
    got = {
        r["lid"]: r["rval_asof"]
        for r in asof_join(
            left, right, "k", "lts", "rts", right_values=["rval"]
        ).collect()
    }
    want = {}
    for i, (k, v) in enumerate(lrows):
        cands = [(rv, k * 1000 + rv) for (rk, rv) in rrows
                 if rk == k and rv <= v]
        want[i] = max(cands)[1] if cands else None
    assert got == want


cents = st.lists(st.integers(-50000, 50000), min_size=1, max_size=30)


@given(vals=cents, target_cents=st.integers(-10000, 10000))
@SETTINGS
def test_cusum_prefix_min_identity_matches_naive_fold(spark, vals, target_cents):
    """q231's window formulation — cusum = running_sum(x - k) minus the
    clamped running minimum — must equal the textbook sequential
    recurrence s_i = max(0, s_{i-1} + x_i - k) for EVERY sequence and
    target. Exact decimal arithmetic on both sides (values are cents),
    so equality is exact, not approximate."""
    from decimal import Decimal
    from pyspark.sql import Window as W

    k = Decimal(target_cents) / 100
    xs = [Decimal(c) / 100 for c in vals]
    s, naive = Decimal(0), []
    for x in xs:
        s = max(Decimal(0), s + x - k)
        naive.append(s)

    df = spark.createDataFrame(
        [(i, float(x)) for i, x in enumerate(xs)], "i int, v double"
    )
    wrun = W.orderBy("i").rowsBetween(W.unboundedPreceding, W.currentRow)
    cum = F.sum(
        F.col("v").cast("decimal(30,6)") - F.lit(float(k)).cast("decimal(30,6)")
    ).over(wrun)
    rmin = F.min(cum).over(wrun)
    got = [
        r.cusum
        for r in df.select(
            "i",
            (
                cum
                - F.when(rmin < 0, rmin).otherwise(
                    F.lit(0).cast("decimal(38,6)")
                )
            ).alias("cusum"),
        )
        .orderBy("i")
        .collect()
    ]
    assert [Decimal(g) for g in got] == naive


seqs = st.lists(st.sampled_from("abc"), min_size=1, max_size=40)


@given(seq=seqs)
@SETTINGS
def test_streak_islands_match_naive_run_length(spark, seq):
    """q229's two-row_number island identity must reproduce a naive
    run-length encoding for every sequence: per value, the longest run
    and the number of runs."""
    from pyspark.sql import Window as W
    import itertools

    naive: dict[str, list[int]] = {}
    for val, grp in itertools.groupby(seq):
        naive.setdefault(val, []).append(len(list(grp)))
    want = {
        v: (max(runs), len(runs)) for v, runs in naive.items()
    }

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(seq)], "i int, v string"
    )
    grp = (
        F.row_number().over(W.orderBy("i"))
        - F.row_number().over(W.partitionBy("v").orderBy("i"))
    ).alias("grp")
    runs = (
        df.select("v", grp)
        .groupBy("v", "grp")
        .agg(F.count("*").alias("streak"))
        .groupBy("v")
        .agg(F.max("streak").alias("mx"), F.count("*").alias("n_runs"))
    )
    got = {r.v: (r.mx, r.n_runs) for r in runs.collect()}
    assert got == want


nullable_keys = st.lists(
    st.one_of(st.none(), st.text(alphabet="xyz", min_size=1, max_size=2)),
    min_size=1,
    max_size=25,
)


@given(segs=nullable_keys)
@SETTINGS
def test_null_safe_join_routes_null_bucket(spark, segs):
    """q272's semantics for ANY null mix: a null-safe self-enrichment
    keeps EVERY row (the NULL bucket joins its own aggregate), while the
    plain equi join drops exactly the null-key rows — and on the non-null
    subset the two joins agree row-for-row."""
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(segs)], "row_id int, seg string"
    )
    stats = df.groupBy("seg").agg(F.count("*").alias("seg_n")).withColumnRenamed(
        "seg", "s_seg"
    )
    safe = df.join(stats, df.seg.eqNullSafe(stats.s_seg))
    plain = df.join(stats, df.seg == stats.s_seg)
    n_null = sum(1 for s in segs if s is None)
    assert safe.count() == len(segs)
    assert plain.count() == len(segs) - n_null
    # the NULL bucket's aggregate is the null-row count itself
    if n_null:
        got = safe.filter(F.col("seg").isNull()).select("seg_n").distinct().collect()
        assert [r.seg_n for r in got] == [n_null]


@given(ks=st.lists(st.integers(1, 500), min_size=1, max_size=20, unique=True))
@SETTINGS
def test_recursive_cte_closure_depth_formula(spark, ks):
    """q277's halving walk for ANY key set: the transitive closure has
    exactly floor(log2(k)) + 1 rows per seed key (depths 0..log2(k)),
    and every chain terminates at k = 1 — the engine's UnionLoop reaches
    the fixpoint rather than looping or truncating."""
    import math

    spark.createDataFrame([(k,) for k in ks], "k0 bigint").createOrReplaceTempView(
        "prop_seed"
    )
    out = spark.sql(
        """
        WITH RECURSIVE walk(start_key, k, depth) AS (
          SELECT k0, k0, 0 FROM prop_seed
          UNION ALL
          SELECT start_key, k DIV 2, depth + 1 FROM walk WHERE k > 1
        )
        SELECT start_key, count(*) AS n, min(k) AS terminal
        FROM walk GROUP BY start_key
        """
    ).collect()
    got = {r.start_key: (r.n, r.terminal) for r in out}
    want = {k: (int(math.log2(k)) + 1, 1) for k in ks}
    assert got == want


def test_q121_exact_join_complete_at_threshold_boundary(spark, tmp_path):
    """q121's overlap-count exact join must emit every pair with
    jac >= 0.5 and nothing below, including at the boundaries:
    (a) jac EXACTLY 0.5 with equal sizes (minimal overlap at t);
    (b) unequal sizes at the size-ratio edge
    (|B| = 2|A| with every A-shingle shared gives jac = |A|/|B| = 0.5);
    (c) a just-below-threshold pair that must NOT appear (the
    closed-form o/(sza+szb-o) filter rejects it exactly)."""
    import os

    from s4_spark.queries.registry import REGISTRY

    def doc(tokens):
        return " ".join(tokens)

    # (a) s=48 shingles each (50 tokens), shared prefix 34 tokens -> 32
    # shared shingles, jac = 32/(96-32) = 0.5 exactly
    a1 = [f"a_{i}" for i in range(50)]
    b1 = a1[:34] + [f"b_{i}" for i in range(16)]
    # (b) A has 12 tokens (10 shingles), B = A + 10 fresh tokens tagged
    # c_* (22 tokens, 20 shingles): every A-shingle shared except the 2
    # straddling the boundary -> overlap 10? Construct exactly: B = A
    # followed by c tokens; shared shingles = shingles fully inside A =
    # 10; |B| shingles = 20; jac = 10/(10+20-10) = 0.5 exactly, sizes
    # 10 vs 20 = the length-filter edge (min = t*max)
    a2 = [f"d_{i}" for i in range(12)]
    b2 = a2 + [f"c_{i}" for i in range(10)]
    # (c) below threshold: 30 shared of 48/48 -> jac = 30/66 ~ 0.4545
    a3 = [f"e_{i}" for i in range(50)]
    b3 = a3[:32] + [f"f_{i}" for i in range(18)]
    rows = [
        (0, doc(a1)), (1, doc(b1)),
        (10, doc(a2)), (11, doc(b2)),
        (20, doc(a3)), (21, doc(b3)),
    ]
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        os.path.join(sf, "documents.parquet")
    )
    got = {
        (r.id_a, r.id_b): r.jac
        for r in REGISTRY["q121_ngram_jaccard_exact"].fn(spark, sf).collect()
    }
    assert set(got) == {(0, 1), (10, 11)}, got
    assert got[(0, 1)] == 0.5 and got[(10, 11)] == 0.5, got


def test_lsh_hot_bucket_guard_equals_ungated_path(spark, monkeypatch):
    """r14 hot-bucket guard (VERDICT r13 item 3): a degenerate corpus
    whose docs are ALL identical puts every id into ONE bucket per band;
    with the cap forced tiny the blocked fallback engages (multi-block
    triangle decomposition + repartition) and must produce EXACTLY the
    pair set of the ungated array path — the full C(n,2) clique here —
    with the id_a < id_b normalization intact."""
    n = 40
    df = spark.createDataFrame(
        [(i, "dup dup dup dup dup dup") for i in range(n)],
        "doc_id long, text string",
    )
    ex = D.shingles_exploded(df, "doc_id", n=2)
    sig = D.with_minhash_signature(ex, "doc_id", num_hashes=8)

    monkeypatch.setattr(D, "_LSH_BUCKET_CAP", 10**9)
    ungated = {
        (r["id_a"], r["id_b"])
        for r in D.lsh_candidate_pairs(sig, "doc_id", bands=4, rows=2).collect()
    }
    monkeypatch.setattr(D, "_LSH_BUCKET_CAP", 4)  # forces ceil(40/4) blocks
    gated = {
        (r["id_a"], r["id_b"])
        for r in D.lsh_candidate_pairs(sig, "doc_id", bands=4, rows=2).collect()
    }
    want = {(a, b) for a in range(n) for b in range(n) if a < b}
    assert ungated == want
    assert gated == want
    assert all(x < y for x, y in gated)


def test_lsh_hot_bucket_guard_mixed_bucket_sizes(spark, monkeypatch):
    """The guard must split routing WITHIN one call: buckets at or below
    the cap keep the array path, bigger ones go blocked, and the union
    is the exact ungated pair set (mixed fixture: one 9-doc clique of
    identical texts + distinct near-unique docs)."""
    rows = [(i, "x y z w v u") for i in range(9)] + [
        (100 + i, f"uniq{i} t{i} q{i} r{i} s{i}") for i in range(6)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    ex = D.shingles_exploded(df, "doc_id", n=2)
    sig = D.with_minhash_signature(ex, "doc_id", num_hashes=8)
    monkeypatch.setattr(D, "_LSH_BUCKET_CAP", 10**9)
    ungated = {
        (r["id_a"], r["id_b"])
        for r in D.lsh_candidate_pairs(sig, "doc_id", bands=4, rows=2).collect()
    }
    monkeypatch.setattr(D, "_LSH_BUCKET_CAP", 3)
    gated = {
        (r["id_a"], r["id_b"])
        for r in D.lsh_candidate_pairs(sig, "doc_id", bands=4, rows=2).collect()
    }
    assert gated == ungated


def test_funnel_step_times_whale_user(spark):
    """r14 q145 shape (VERDICT r13 item 3): the chained min-over-window
    step derivation must handle a whale user (10^5 events in one
    partition key) without any per-user array, and reproduce the funnel
    semantics exactly — t1 = first view, t2 = first click STRICTLY after
    t1 (earlier clicks/purchases ignored), t3 = first purchase strictly
    after t2; missing prior step nulls the chain."""
    from s4_spark.queries.aggregates import funnel_step_times

    whale = spark.range(100_000).select(
        F.lit(1).alias("user_id"),
        F.timestamp_micros(F.col("id") * 1_000_000).alias("ts"),
        F.when(F.col("id") == 1000, "view")
        .when(F.col("id") == 999, "purchase")   # before the view: ignored
        .when(F.col("id") == 50_000, "purchase")
        .otherwise("click")
        .alias("event_type"),
    )
    no_view = spark.range(10).select(
        F.lit(2).alias("user_id"),
        F.timestamp_micros(F.col("id") * 1_000_000).alias("ts"),
        F.lit("click").alias("event_type"),
    )
    no_click = spark.createDataFrame(
        [(3, 0, "view"), (3, 5, "purchase")], "user_id long, i long, t string"
    ).select(
        "user_id",
        F.timestamp_micros(F.col("i") * 1_000_000).alias("ts"),
        F.col("t").alias("event_type"),
    )
    ev = whale.unionByName(no_view).unionByName(no_click)
    got = {
        r["user_id"]: (r["t1"], r["t2"], r["t3"])
        for r in funnel_step_times(ev).collect()
    }
    us = lambda i: i * 1_000_000  # noqa: E731
    import datetime as dt

    def ts(i):
        return dt.datetime.fromtimestamp(us(i) / 1e6, dt.timezone.utc).replace(
            tzinfo=None
        )

    # whale: view at 1000, first later click at 1001, purchase at 50000
    assert got[1] == (ts(1000), ts(1001), ts(50_000)), got[1]
    # clicks only: whole chain null
    assert got[2] == (None, None, None)
    # view + purchase but no click: t2 null kills t3
    assert got[3] == (ts(0), None, None)
