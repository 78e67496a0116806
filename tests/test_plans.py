"""Physical-plan audit: assert the plan properties that make each family
scale, not just that results match.

Correctness tests prove WHAT is computed; these prove HOW — a broadcast
that silently degrades to a sort-merge join, a filter that stops reaching
the parquet scan, or a projection that stops pruning columns would still
pass the oracle gate at sf0.01 while becoming the bottleneck at 100 TB.
Plans are inspected via ``explain`` output only (no job execution), so the
whole module runs in seconds.

AQE note: with adaptive execution the initial plan prints ``AdaptiveSparkPlan
isFinalPlan=false`` — join-strategy and scan nodes are still visible in the
initial plan, which is what these assertions read.
"""

from __future__ import annotations

import os

import pytest

from s4_spark.queries import REGISTRY
from s4_spark.session import scoped_conf
from tests.conftest import SF_DIR


def plan(spark, name: str) -> str:
    df = REGISTRY[name].fn(spark, SF_DIR)
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_broadcast_join_dims_broadcast(spark):
    """q021: both dims (nation, region) must hash-broadcast — the fact
    side (customer) is never shuffled."""
    p = plan(spark, "q021_broadcast_join")
    # formatted output lists each node twice (tree + details)
    assert p.count("BroadcastHashJoin") >= 2, p
    assert "SortMergeJoin" not in p, p


def test_tpch_q3_join_shape(spark):
    """q020: customer (small side) broadcasts; orders⋈lineitem may shuffle
    (both large) but must be a hash or sort-merge join on the key, never a
    nested-loop."""
    p = plan(spark, "q020_inner_join_tpch_q3")
    assert "BroadcastHashJoin" in p, p
    assert "BroadcastNestedLoopJoin" not in p, p


def test_filter_pushdown_reaches_scan(spark):
    """q011: comparison predicates reach the parquet reader as
    PushedFilters (row-group statistics skipping at scale)."""
    p = plan(spark, "q011_filter_comparison")
    assert "PushedFilters: [" in p, p
    pushed = p.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "GreaterThan" in pushed or "l_quantity" in pushed, pushed


def test_column_pruning_reaches_scan(spark):
    """q010: a 3-column projection over the 16-column lineitem must read
    only the referenced columns (ReadSchema pruning)."""
    p = plan(spark, "q010_projection")
    schema_line = p.split("ReadSchema: ", 1)[1].splitlines()[0]
    assert "l_shipdate" not in schema_line, schema_line
    assert "l_comment" not in schema_line, schema_line


def test_partial_aggregation_present(spark):
    """q030 (TPC-H Q1): two HashAggregate nodes (partial + final) so the
    shuffle carries one row per (partition, group), not raw rows."""
    p = plan(spark, "q030_hash_agg_tpch_q1")
    assert p.count("HashAggregate") >= 2, p


def test_semi_join_stays_semi(spark):
    """q024: EXISTS compiles to a semi join (never materializes the
    probe side's matches)."""
    p = plan(spark, "q024_left_semi_join")
    assert "LeftSemi" in p, p


def test_topk_uses_take_ordered(spark):
    """q061: ORDER BY + LIMIT must plan as TakeOrderedAndProject — a
    per-partition heap + driver merge, never a global sort."""
    p = plan(spark, "q061_topk")
    assert "TakeOrderedAndProject" in p, p


def test_minhash_shuffles_signatures_not_shingles(spark):
    """q111: the MinHash aggregation partial-aggregates before its
    shuffle — the exchange carries 96-column signature rows, never raw
    shingle rows (the property that bounds shuffle volume by doc count,
    not token count)."""
    p = plan(spark, "q111_minhash_lsh_neardup")
    # partial HashAggregate (min columns) must appear below an Exchange
    assert p.count("HashAggregate") >= 2, p


def test_whole_stage_codegen_on_hot_path(spark):
    """q030: the scan→filter→partial-agg pipeline runs inside whole-stage
    codegen (interpreted expression trees are 5-10x slower). Codegen stage
    markers (``*(n)``) only appear in the AQE final plan, so execute first."""
    df = REGISTRY["q030_hash_agg_tpch_q1"].fn(spark, SF_DIR)
    df.collect()
    simple = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )
    assert "*(1) HashAggregate" in simple or "*(1) Filter" in simple, simple


@pytest.mark.parametrize(
    "name",
    [
        "q022_left_outer_join",
        "q023_full_outer_join",
        "q025_left_anti_join",
        "q028_asof_join",
    ],
)
def test_equi_joins_never_nested_loop(spark, name):
    """Equi-joinable forms must never degrade to a nested-loop plan."""
    p = plan(spark, name)
    assert "BroadcastNestedLoopJoin" not in p, f"{name}: {p}"


def test_bucketed_join_no_exchange(spark):
    """q045: both sides bucketed by the join key — the sort-merge join
    must have NO Exchange (shuffle) on either input. This is the property
    that makes repeated large⋈large joins free of shuffle at 100 TB."""
    p = plan(spark, "q045_bucketed_join")
    join_part = p.split("SortMergeJoin", 1)[0]
    # the only exchanges allowed are AFTER the join (agg/sort); before the
    # join node's inputs there must be none
    assert "Exchange hashpartitioning" not in join_part, p
    assert "SortMergeJoin" in p, p


def test_pivot_no_values_discovery_job(spark):
    """q041: explicit pivot values — no distinct-values discovery job.
    Expected exchanges: the two-phase pivot aggregation (2) + final sort
    (1), each printed twice in formatted mode = 6 mentions max."""
    p = plan(spark, "q041_pivot")
    assert p.count("Exchange") <= 6, p


def test_tfidf_broadcasts_idf_and_takes_topk(spark):
    """q138: the idf table (|terms| rows) broadcasts onto the tf side and
    the final top-k is TakeOrderedAndProject, never a global sort; the
    token explode is pre-filtered so only matching terms are aggregated."""
    p = plan(spark, "q138_tfidf_retrieval")
    assert "BroadcastHashJoin" in p, p
    assert "TakeOrderedAndProject" in p, p
    assert "IN (hash,merge,vector)" in p, p


def test_hash_sampling_is_narrow(spark):
    """q132: the deterministic hash-sample filter evaluates at the scan
    stage (before any exchange) and the scan prunes to the two referenced
    columns — sampling 100 TB must not shuffle the corpus."""
    p = plan(spark, "q132_stratified_sample")
    filter_pos = p.index("md5")
    first_exchange = p.index("Exchange")
    # the md5 filter appears in the scan-side stage of the details section;
    # cheap structural proxy: scans prune to text+lang only
    assert "struct<text:string,lang:string>" in p, p
    assert "doc_id" not in p.split("ReadSchema: ", 1)[1].splitlines()[0], p
    assert filter_pos and first_exchange  # both present


def test_chunking_has_no_shuffle_before_agg(spark):
    """q131: chunking is explode+slice (narrow); the only exchanges over
    CHUNK rows are the final per-lang aggregation's partial→final pair
    (+ sort). A single round-robin spread exchange over pre-chunk DOC
    rows is allowed: catalog.spread_scan restores map-side parallelism
    over the single-row-group driver files (r13, guide §2.5) and is the
    identity above its size gate, so it never appears at scale."""
    p = plan(spark, "q131_doc_chunking")
    tree = p.split("(1) Scan", 1)[0]
    # the spread exchange carries RoundRobinPartitioning — count it from
    # the detail section (the numbered tree omits partitioning info)
    assert tree.count("Exchange") <= 2 + min(p.count("RoundRobinPartitioning"), 1), p
    assert "Generate" in tree, tree


def test_contamination_broadcasts_benchmark_grams(spark):
    """q139: the benchmark gram set broadcasts and the corpus side probes
    it map-side as a left-semi — the corpus's exploded grams must never
    shuffle (a shuffle join on grams moves the whole tokenized corpus at
    100 TB)."""
    p = plan(spark, "q139_contamination_check")
    assert "BroadcastHashJoin" in p, p
    assert "LeftSemi" in p, p
    # the only SMJ/SHJ allowed is the doc_id-keyed hit join, never a
    # gram-keyed one
    import re

    for m in re.finditer(r"(SortMergeJoin|ShuffledHashJoin)\s*\[([a-z_]+)", p):
        assert m.group(2) != "shingle", p


def test_repetition_signals_partial_aggregate(spark):
    """q140: both explode->agg chains partial-aggregate before their
    shuffle (map-side combine), and nothing degrades to a nested-loop
    join — the re-join is doc_id-keyed."""
    p = plan(spark, "q140_repetition_signals")
    assert p.count("HashAggregate") >= 6, p  # partial+final x 3 agg stages
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "CartesianProduct" not in p, p


def test_semantic_dedup_cells_score_locally(spark):
    """q141 (round-7 rework): candidate pairs never materialize as join
    rows at all — cells score LOCALLY via one grouped-map Pandas stage
    keyed on the bounded cell id, and the exact-recall reference is the
    vectorized allpairs operator (MapInPandas), so the plan contains NO
    pair-space join of any kind: zero nested-loop joins, and the only
    shuffle feeding Python is the cell-id grouping."""
    p = plan(spark, "q141_semantic_dedup_clustered")
    assert "FlatMapGroupsInPandas" in p, p[:3000]
    assert "MapInPandas" in p, p[:3000]
    assert "BroadcastNestedLoopJoin" not in p, p[:3000]
    assert "CartesianProduct" not in p, p[:3000]


def test_ivf_assign_batched_matches_interpreted(spark):
    """r8 q141 rework: the vectorized assignment (numpy matmul against a
    broadcast centroid matrix) must produce the SAME (vector, cell)
    assignment set as the interpreted-HOF ivf_assign for the same
    centroids and n_probe — ties on cosine are the only permitted
    divergence (measure-zero on real float data)."""
    from pyspark.sql import functions as F

    from s4_spark.operators import similarity as S

    e = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    cents = [
        r.embedding
        for r in e.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 116))
        .orderBy("vec_id")
        .select("embedding")
        .collect()
    ]
    a = S.ivf_assign(
        e.select("vec_id", "embedding"), "embedding", cents, n_probe=2
    ).select("vec_id", F.explode("ivf_cell").alias("cell"))
    b = S.ivf_assign_batched(e, "vec_id", "embedding", cents, n_probe=2).select(
        "vec_id", F.explode("ivf_cell").alias("cell")
    )
    sa = {(r.vec_id, r.cell) for r in a.collect()}
    sb = {(r.vec_id, r.cell) for r in b.collect()}
    assert sa == sb and len(sa) == 2 * e.count()


def test_q141_scaled_path_runs_and_certifies(spark, monkeypatch):
    """r8 ×100 probe rework: above Q141_GATE_ROWS q141 scales cells as
    √N (vectorized assignment) and dispatches its recall certification
    to a hash-bucketed subsample. Lowering the gate to 100 forces the
    scaled path onto the sf0.01 corpus (500 vectors → k=22 cells,
    5 cert buckets): the mechanics must run end-to-end and emit the
    contract schema with the full-corpus candidate count. recall_ok is
    NOT pinned here — a ~100-vector near-uniform subsample is the
    declared hard regime where the floor legitimately fails; the real
    certification is the ×100 probe (200k vectors, k=447: recall 10/10,
    candidate stage 413 s → 9 s, recorded in SCALE.md)."""
    from s4_spark.queries import training as T

    monkeypatch.setattr(T, "Q141_GATE_ROWS", 100)
    rows = T.q141(spark, SF_DIR).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.n_pairs == 10
    assert isinstance(r.recall_ok, bool)


def test_q141_cert_arm_forces_gate_regime(spark, monkeypatch):
    """Round-12 ×1000 finding: the cert subsample's bucket-0 size is
    binomial around Q141_GATE_ROWS (drew 20,241 > 20,000 at 2M vectors),
    and crossing the gate by sampling variance silently re-pointed the
    certification at the √N-cell mechanism — recall_ok false on a
    corpus whose contract was green at every smaller scale. The cert
    call now pins force_gate=True; this test drives the helper both
    ways on the sf0.01 corpus (500 vectors) with an n_rows ABOVE the
    gate and asserts the seed count the assignment receives: 16 (gate
    mechanism) under force_gate, isqrt(n_rows) otherwise."""
    from s4_spark.operators import similarity as S
    from s4_spark.queries import training as T
    from s4_spark.queries.helpers import t as load

    seen = []
    orig = S.ivf_assign_batched

    def spy(*args, **kwargs):
        cents = kwargs.get("centroids", args[3] if len(args) > 3 else None)
        seen.append(len(cents))
        return orig(*args, **kwargs)

    monkeypatch.setattr(T.S, "ivf_assign_batched", spy)
    e = load(spark, SF_DIR, "embeddings")
    T._q141_candidate_top10(e, 25_000, fixed_seed_ids=False, force_gate=True).collect()
    T._q141_candidate_top10(e, 25_000, fixed_seed_ids=False).collect()
    assert seen == [16, 158], seen  # isqrt(25000) == 158


def test_q168_cert_dispatch_is_metadata_gated(spark, monkeypatch):
    """Round-12: q168's exact percentile reference collects per-group
    value multisets on one reducer, so past a plan-stats size gate it
    moves to a deterministic md5-bucket subsample while the certified
    sketch still scans the full corpus. Below the gate (every driver
    SF) the plan must carry NO sampling filter — value-identical to the
    pre-dispatch entry; with the gate forced low the md5 filter must
    appear and the contract booleans must still hold."""
    from s4_spark.queries import aggregates as A

    p = plan(spark, "q168_approx_quantile_profile")
    assert "md5" not in p, p  # sf0.01 is far below the 64 MB gate
    monkeypatch.setattr(A, "Q168_CERT_GATE_BYTES", 1)
    monkeypatch.setattr(A, "Q168_CERT_TARGET_BYTES", 200_000)
    df = REGISTRY["q168_approx_quantile_profile"].fn(spark, SF_DIR)
    forced = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "md5" in forced, forced
    rows = df.collect()
    # the PROFILE side must stay unsampled: per-group n equals the full
    # corpus counts even when the cert reference is subsampled. The
    # boolean contract is deliberately NOT asserted here — a forced
    # ~1k-row/group sample violates the production calibration
    # (sampling rank error ~1/sqrt(n_cert) must sit under the 1% value
    # bound; measured true at the real gate: x10 1.5M-row sample, and
    # at every driver SF on the full-corpus reference).
    assert sorted((r.l_returnflag, r.n) for r in rows) == [
        ("A", 20028), ("N", 19926), ("R", 20046)
    ], rows


def test_q249_battery_evaluated_after_topk(spark):
    """Round-12: q249's try_* battery is exception-backed (~9 µs/row
    measured) and its ordering key needs none of the computed columns,
    so the top-200 must be taken on the NARROW frame and the battery
    evaluated on 200 rows — projecting first paid 13.4 s at ×10 to
    compute 1.5M try_casts and keep 200 (0.23 s after). Pin: the
    TakeOrderedAndProject node's input carries no computed column."""
    import re

    p = plan(spark, "q249_try_functions")
    # the detail block for TakeOrderedAndProject lists its Input;
    # computed columns must not be in it
    m = re.search(r"\(\d+\) TakeOrderedAndProject\nInput \[\d+\]: \[([^\]]*)\]", p)
    assert m, p
    assert "safe_div" not in m.group(1), m.group(1)
    assert "o_orderkey" in m.group(1), m.group(1)


def test_time_rollup_single_scan_expand(spark):
    """q144: the 4-level rollup reads events ONCE and multiplies rows via
    Expand (map-side combined) — never one scan per grouping level."""
    p = plan(spark, "q144_time_rollup")
    assert "Expand" in p, p
    # graph section only (details repeat each node once more)
    graph = p.split("(1) Scan", 1)[0]
    assert graph.count("Scan parquet") == 1, graph


def test_funnel_joins_are_equi_on_user(spark):
    """q145: every step join keys on user_id (hash/broadcast), no
    nested-loop anywhere in the cascade."""
    p = plan(spark, "q145_funnel")
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "CartesianProduct" not in p, p


def test_retention_distinct_partial_aggregates(spark):
    """q146: the event-volume (user, week) distinct partial-aggregates
    before its exchange; downstream joins never nested-loop."""
    p = plan(spark, "q146_retention_cohorts")
    assert p.count("HashAggregate") >= 4, p
    assert "BroadcastNestedLoopJoin" not in p, p


def test_per_group_topk_pushes_window_group_limit(spark):
    """q062: Spark 3.5+'s WindowGroupLimit must appear TWICE — a partial
    limit below the shuffle (each map task keeps k rows per group) and a
    final one above it. If this pushdown regresses, the shuffle carries
    every row instead of k x groups — the difference between a top-k
    and a full sort at 100 TB."""
    p = plan(spark, "q062_per_group_topk")
    graph = p.split("(1) Scan", 1)[0]
    assert graph.count("WindowGroupLimit") == 2, p


def test_tpch_q5_dims_broadcast_no_nlj(spark):
    """q166: region/nation/supplier broadcast; nothing nested-loops; the
    second equi-condition (c_nationkey = s_nationkey) rides a hash join
    rather than a post-join filter pass."""
    p = plan(spark, "q166_tpch_q5_shape")
    assert p.count("BroadcastHashJoin") >= 3, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "CartesianProduct" not in p, p


def test_runtime_bloom_filter_join_pruning(spark):
    """100 TB capability pin: with a selective filter on one side of a
    shuffle join, Catalyst injects a runtime bloom filter
    (bloom_filter_agg on the creation side, might_contain on the
    application side) so the big fact scan drops non-joining rows BEFORE
    the shuffle — the declarative form of semi-join pushdown. Guards the
    conf surface our SCALE.md story depends on."""
    from pyspark.sql import functions as F

    from tests.conftest import SF_DIR

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    with scoped_conf(spark, confs):
        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        o = spark.read.parquet(f"{SF_DIR}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        p = j._jdf.queryExecution().optimizedPlan().toString()
    assert "bloom_filter_agg" in p, p
    assert "might_contain" in p, p


def test_source_cap_pushes_window_group_limit(spark):
    """q169: the per-source cap's rank filter must compile to the same
    two-stage WindowGroupLimit as q062 (partial below the shuffle, final
    above) — its docstring's scale claim that map tasks ship at most K
    rows per source, pinned so it can't silently regress."""
    p = plan(spark, "q169_source_cap")
    graph = p.split("(1) Scan", 1)[0]
    assert graph.count("WindowGroupLimit") == 2, p


def test_snapshot_diff_full_outer_is_shuffled_hash(spark):
    """q151: the full-outer diff join must be a ShuffledHashJoin, not a
    SortMergeJoin — full-outer SMJ sorts BOTH sides before merging, and
    on uniform unique doc_id keys those sorts are pure overhead
    (measured at sf0.1: 0.65 s -> 0.47 s warm). Pins the round-4 fix for
    the round-3 bench's closest-to-gate query."""
    p = plan(spark, "q151_snapshot_diff")
    assert "ShuffledHashJoin FullOuter" in p, p
    assert "SortMergeJoin" not in p, p


def test_bloom_filter_write_in_footer(spark):
    """q173 / reference A11: the bloom-filter write option must actually
    land a bloom bitset in the parquet footer — parquet-mr silently
    SKIPS blooms for fully dictionary-encoded columns, so without the
    per-column dictionary opt-out this degrades to a no-op write while
    the oracle still matches. Verified with the JVM's own
    ParquetFileReader: covered column has bloom_filter_offset > 0,
    uncovered columns have none."""
    import glob

    from s4_spark.queries.scans import bloom_sink_dir

    REGISTRY["q173_bloom_filter_write"].fn(spark, SF_DIR).collect()
    files = glob.glob(bloom_sink_dir(SF_DIR) + "/part-*.parquet")
    assert files, "q173 wrote no parquet files"
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    inf = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        jvm.org.apache.hadoop.fs.Path(files[0]), conf
    )
    reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(inf)
    try:
        offsets = {}
        for block in reader.getFooter().getBlocks():
            for col in block.getColumns():
                name = col.getPath().toDotString()
                offsets.setdefault(name, []).append(col.getBloomFilterOffset())
        assert all(o > 0 for o in offsets["l_orderkey"]), offsets
        assert all(o == -1 for o in offsets["l_partkey"]), offsets
        assert all(o == -1 for o in offsets["l_quantity"]), offsets
    finally:
        reader.close()


def test_shard_export_writes_hive_partitioned_tree(spark):
    """q176: the export must land a lang=/shard= Hive layout (that
    layout IS the operator's scale claim — shard-pruned training reads);
    every (lang, shard) leaf holds parquet files and shard ids cover
    0..3 (pack_bin % 4)."""
    import glob

    from s4_spark.scratch import scratch_root

    REGISTRY["q176_training_shard_export"].fn(spark, SF_DIR).collect()
    root = os.path.join(scratch_root(), f"shards_{os.path.basename(SF_DIR)}")
    leaves = glob.glob(os.path.join(root, "lang=*", "shard=*"))
    assert leaves, f"no partition dirs under {root}"
    shards = {os.path.basename(p).split("=")[1] for p in leaves}
    assert shards == {"0", "1", "2", "3"}, shards
    assert all(
        glob.glob(os.path.join(p, "*.parquet")) for p in leaves
    ), "empty partition leaf"


def test_vocab_induction_broadcast_probe_and_topk(spark):
    """q177: the vocab cut must compile to TakeOrderedAndProject (top-k,
    never a global sort of the frequency table) and coverage must probe
    via BroadcastHashJoin — a shuffle join here would move the whole
    corpus token stream."""
    p = plan(spark, "q177_vocab_induction_oov")
    assert "TakeOrderedAndProject" in p, p
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p, p


def test_split_is_single_scan_no_join(spark):
    """q178: split membership is computed in the scan's projection — one
    parquet scan, no join anywhere (the whole point of hash-bucket
    splits: no membership table to look up)."""
    p = plan(spark, "q178_train_val_test_split")
    assert "Join" not in p, p
    assert p.count("Scan parquet") == 2, p  # tree node + details header


def test_incremental_refresh_leaves_other_partitions_untouched(spark):
    """q181: dynamic partition overwrite must replace ONLY the delta's
    partitions. Proof by file identity: after the query runs (full build
    + en-only delta), rewrite a second en-only delta and assert every
    non-en partition's file set (names + mtimes) is byte-for-byte
    untouched while en partitions changed. Static overwrite mode would
    truncate the whole table — the difference between an incremental
    nightly refresh and a full re-export at 100 TB."""
    import glob
    import tempfile

    from s4_spark.queries.training import incremental_shard_dir

    REGISTRY["q181_incremental_shard_refresh"].fn(spark, SF_DIR).collect()
    root = incremental_shard_dir(SF_DIR)

    def snapshot(pattern):
        return {
            f: os.path.getmtime(f)
            for f in glob.glob(os.path.join(root, pattern, "shard=*", "*.parquet"))
        }

    import pyspark.sql.functions as F

    from s4_spark.catalog import table as cat_table

    delta = (
        cat_table(spark, SF_DIR, "documents")
        .filter(F.col("lang") == "en")
        .select(
            "doc_id",
            "lang",
            F.size(F.split("text", " ")).alias("n_tokens"),
            F.pmod("doc_id", F.lit(4)).alias("shard"),
        )
    )
    before_other = snapshot("lang=[!e]*")
    before_en = snapshot("lang=en")
    assert before_other and before_en
    with scoped_conf(spark, {"spark.sql.sources.partitionOverwriteMode": "dynamic"}):
        delta.write.partitionBy("lang", "shard").mode("overwrite").parquet(root)
    after_other = snapshot("lang=[!e]*")
    after_en = snapshot("lang=en")
    assert after_other == before_other, "non-delta partitions were rewritten"
    assert set(after_en) != set(before_en) or any(
        after_en[f] != before_en.get(f) for f in after_en
    ), "en partitions should have been replaced"


def test_global_row_number_has_no_single_partition_exchange(spark):
    """q182: the two-phase numbering must never funnel the table through
    one reducer — a naive row_number() OVER (ORDER BY ...) compiles to
    Exchange SinglePartition + global Sort, which is exactly the
    bottleneck the operator exists to avoid. Buckets partition the
    window, so every sort is per-bucket."""
    p = plan(spark, "q182_global_row_number")
    assert "SinglePartition" not in p, p


def test_q051_global_window_is_declared_single_partition(spark):
    """VERDICT r7 item 3 (inverse pin of the q182/q191 assertions):
    q051's DECLARED contract is the global rank-function check — ntile /
    percent_rank / cume_dist need the total order and total count, so
    the plan's Exchange SinglePartition is inherent, documented in the
    entry's docstring, and pinned here so the scale note stays honest:
    if the plan ever loses the single-partition exchange the docstring
    (and this test) must be revisited, and conversely anyone tempted to
    'fix' the exchange learns the 100 TB spellings are q182 (two-phase
    offsets) and q168 (GK sketch quantiles), not this entry."""
    p = plan(spark, "q051_ntile_percent_rank")
    assert "SinglePartition" in p, p


def test_lm_familiarity_probes_are_broadcast(spark):
    """q188: the reference-LM tables (bigram + prefix counts) must probe
    via BroadcastHashJoin — a shuffle join on the bigram key would move
    the entire exploded corpus token stream; the only shuffles allowed
    are the doc/source aggregations."""
    p = plan(spark, "q188_lm_familiarity_filter")
    assert p.count("BroadcastHashJoin") >= 2, p
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p, p


def test_dataset_card_is_single_scan_partial_agg(spark):
    """q189: one narrow parquet scan (no text column beyond the token
    count projection), no join — the card is a pure partial+final agg."""
    p = plan(spark, "q189_dataset_card_profile")
    assert "Join" not in p, p
    assert "HashAggregate" in p, p


def test_bpe_apply_has_no_python_stage(spark):
    """q187: merge application is k chained literal replace()s — fully
    codegen'd; any Python/Arrow eval node here would mean the merge
    chain fell off the JVM path."""
    p = plan(spark, "q187_bpe_apply_compression")
    for bad in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert bad not in p, p


def test_token_budget_cut_has_no_single_partition_exchange(spark):
    """q191: the running token sum must come from the two-phase prefix
    (per-bucket windows + driver offsets) — a global window would show
    as Exchange SinglePartition, the one shape that cannot scale."""
    p = plan(spark, "q191_token_budget_prefix_cut")
    assert "SinglePartition" not in p, p


def test_exact_median_final_stage_is_take_ordered(spark):
    """q192: the terminal k-th-value extraction must compile to
    TakeOrderedAndProject over the narrowed bracket — a global Sort or
    single-partition exchange would mean the selection fell back to the
    unscalable full-sort path."""
    p = plan(spark, "q192_exact_median_twophase")
    assert "TakeOrderedAndProject" in p, p
    assert "SinglePartition" not in p, p


def test_fuzzy_decontamination_broadcasts_protected_bands(spark):
    """q190: the protected (benchmark) band table must broadcast — the
    corpus side streams through the probe; a sort-merge band join would
    shuffle the whole corpus band table."""
    p = plan(spark, "q190_fuzzy_decontamination")
    assert "BroadcastHashJoin" in p, p


def test_runtime_bloom_join_injects_filter(spark):
    """q194: under the injection confs, the creation side must build a
    bloom_filter_agg and the fact-side scan must be guarded by
    might_contain — the runtime semi-join reduction the operator
    exists to demonstrate."""
    from s4_spark.queries.joins import _BLOOM_CONFS, _q194_join

    with scoped_conf(spark, _BLOOM_CONFS):
        df = _q194_join(spark, SF_DIR)
        p = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
    assert "bloom_filter_agg" in p, p
    assert "might_contain" in p, p


def test_cdc_apply_full_outer_is_shuffled_hash(spark):
    """q195: the snapshot⟗delta full outer must take the ShuffledHashJoin
    path (q151's finding — SMJ sorts both sides for nothing on unique
    uniform keys)."""
    p = plan(spark, "q195_cdc_apply")
    assert "ShuffledHashJoin" in p, p
    assert "SortMergeJoin" not in p, p


def test_arrow_udf_uses_arrow_eval(spark):
    """q199: the Arrow-optimized UDF must execute as ArrowEvalPython —
    if it silently degrades to the pickled BatchEvalPython path the
    entry duplicates q100 instead of covering the Arrow row-UDF lane."""
    p = plan(spark, "q199_arrow_python_udf")
    assert "ArrowEvalPython" in p, p
    assert "BatchEvalPython" not in p, p


def test_dynamic_partition_pruning_injects(spark):
    """q200: the fact scan's PartitionFilters must carry a
    dynamicpruningexpression — the dim filter's surviving day keys prune
    whole partitions at run time. Also pins the selectivity gotcha: the
    dim predicate is a comparison (a bare boolean attribute disables
    the rewrite)."""
    from s4_spark.queries.scans import _q200_tables

    import pyspark.sql.functions as SF

    fact, dim = _q200_tables(spark, SF_DIR)
    j = fact.join(dim.filter(SF.col("hot") <= 3), "day").groupBy().count()
    p = j._sc._jvm.PythonSQLUtils.explainString(
        j._jdf.queryExecution(), "formatted"
    )
    assert "dynamicpruning" in p, p


def test_cbo_reorders_selective_dim_innermost(spark):
    """q201: with ANALYZE stats + CBO on, the cost-annotated optimized
    plan must run region⋈nation innermost (the deepest Join line binds
    n_regionkey = r_regionkey) even though the SQL lists
    customer⋈nation first — the statistics, not the written order,
    decide."""
    from s4_spark.queries.joins import _CBO_CONFS, _cbo_tables, _q201_sql

    names = _cbo_tables(spark, SF_DIR)
    with scoped_conf(spark, _CBO_CONFS):
        df = spark.sql(_q201_sql(names))
        p = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "cost"
        )
    joins = [l for l in p.splitlines() if "Join Inner" in l]
    assert joins, p
    assert "r_regionkey" in joins[-1], joins  # innermost = dim join
    assert "c_nationkey" in joins[0], joins  # outermost = big join


def test_zone_map_predicate_prunes_parquet_files(spark):
    """q202's clustered layout must actually enable engine-side skipping:
    a range predicate over the bucket-partitioned tree reaches the scan
    as a pushed filter AND the zbucket partition column prunes. Reads the
    layout the query itself wrote (same process → same scratch root).
    Also pins the physical claim the query's result cannot express
    without tautology: each zbucket leaf holds exactly one data file
    (8 leaves, 8 files) under this write config."""
    import glob as _glob

    from s4_spark.scratch import scratch_root

    REGISTRY["q202_zone_map_skipping"].fn(spark, SF_DIR).collect()
    path = os.path.join(
        scratch_root(), f"zmap_{os.path.basename(SF_DIR)}"
    )
    leaves = sorted(_glob.glob(os.path.join(path, "zbucket=*")))
    assert len(leaves) == 8, leaves
    for leaf in leaves:
        files = _glob.glob(os.path.join(leaf, "*.parquet"))
        assert len(files) == 1, (leaf, files)
    df = spark.read.parquet(path).filter("zbucket = 2 AND l_orderkey > 0")
    p = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters: [" in p, p
    pf = p.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "zbucket" in pf, pf
    assert "PushedFilters: [" in p, p
    assert "l_orderkey" in p.split("PushedFilters: [", 1)[1].split("]", 1)[0], p


def test_snapshot_index_probe_joins_on_band_keys(spark):
    """q203: the persisted-index probe must be an equi-join on
    (band_id, band_key) — never a nested-loop — and the verify stage
    must not drag shingle arrays through the candidate join.

    (Attribute names are unreliable here — the 96-wide signature
    expressions trip plan-string truncation — so the assertion reads
    join STRUCTURE: only equi-join strategies, plus the two LeftSemi
    candidate prefilters that keep shingle-set building
    candidates-only.)"""
    p = plan(spark, "q203_snapshot_index_dedup")
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "CartesianProduct" not in p, p
    assert p.count("LeftSemi") >= 2, p


def test_count_min_sketch_partial_aggregates(spark):
    """q204: the sketch build must partial-aggregate (map-side combine
    compresses every partition to ≤ depth×width rows before the
    exchange)."""
    p = plan(spark, "q204_count_min_sketch")
    assert "partial_count" in p or "Partial" in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    # both probe joins (sketch lookup, exact recount) broadcast their
    # small side — the token stream must never shuffle for a 5-row probe
    assert p.count("BroadcastHashJoin") >= 2, p
    assert "SortMergeJoin" not in p, p


def test_kmv_sketches_compile_to_take_ordered(spark):
    """q205: every k-minimum sketch is a TakeOrdered (per-partition heap
    + driver merge), never a global Sort followed by Limit."""
    p = plan(spark, "q205_kmv_sketch_setops")
    assert "TakeOrderedAndProject" in p, p


def test_balanced_write_uses_rebalance_partitions(spark):
    """q210: the rebalance hint must survive to the physical plan as an
    AQE RebalancePartitions exchange (split-capable, unlike
    repartition's fixed hash buckets). Asserts on the query's OWN
    pre-write DataFrame (_q210_write_df) — a hand-built lookalike would
    keep passing after the hint was dropped from the query."""
    from s4_spark.queries.scans import _q210_write_df

    d = _q210_write_df(spark, SF_DIR)
    p = d._sc._jvm.PythonSQLUtils.explainString(
        d._jdf.queryExecution(), "formatted"
    )
    # physical plan prints the node as
    # `Exchange hashpartitioning(...), REBALANCE_PARTITIONS_BY_COL`
    assert "rebalance_partitions" in p.lower(), p


def test_contrastive_mining_broadcasts_anchors_and_group_limits(spark):
    """q216: the negative pool must be the hash-bucketed per-anchor
    EQUI-join (r8 rework — broadcast hash join on the bucket key, the
    pair-sized anchor side built, the corpus never shuffled), NOT the
    quadratic anchor×corpus nested loop the ×10 sweep caught at
    15.4×/decade; and the per-anchor top-3 must group-limit below the
    window exchange."""
    p = plan(spark, "q216_contrastive_pair_mining")
    assert "BroadcastHashJoin" in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "CartesianProduct" not in p, p
    assert "WindowGroupLimit" in p, p


def test_point_in_time_join_rides_equi_key(spark):
    """q217: the validity-interval predicate must ride the custkey
    equi-join — a hash/merge join with a residual range filter, never a
    nested loop over facts×versions."""
    p = plan(spark, "q217_point_in_time_join")
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "CartesianProduct" not in p, p


def test_funnel_has_no_window_and_broadcasts_step_frames(spark):
    """q219: the windowed funnel is pure chained aggregation — no window sort over
    the event log ever appears, every join is a hash join with the
    one-row-per-user step frame on the build side, and each step's
    min-agg is partial+final (Exchange between two HashAggregates)."""
    p = plan(spark, "q219_windowed_funnel")
    assert "Window" not in p, p
    assert "SortMergeJoin" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert p.count("BroadcastHashJoin") >= 2, p


def test_domain_propagation_broadcasts_verdicts(spark):
    """q221: per-source stats hash-broadcast back onto the document scan;
    the corpus-mean side is ONE row (its nested-loop cross is a 1-row
    broadcast, bounded by construction). No sort-merge join anywhere."""
    p = plan(spark, "q221_domain_quality_propagation")
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p


def test_event_transitions_normalizes_on_aggregate(spark):
    """q222: exactly two logical Window nodes (each printed twice in
    formatted output: tree + details) — the event-log lag and the
    25-row normalizer. The normalizing window must sit ABOVE the hash
    aggregate in the tree, i.e. it runs on the aggregate, never
    re-sorting the events."""
    p = plan(spark, "q222_event_transitions")
    assert p.count("Window") == 4, p
    tree = p.split("\n\n")[0]
    win_above = tree.index("Window")
    agg = tree.index("HashAggregate")
    assert win_above < agg, tree  # top-down print: upper window first


def test_q18_prunes_before_join_and_takes_ordered(spark):
    """q223: the quantity sum is partial+final on l_orderkey (map-side
    combine) with the HAVING filter applied to the aggregate BEFORE any
    join; both detail joins are hash joins; the top-100 compiles to
    TakeOrderedAndProject, never a global sort."""
    p = plan(spark, "q223_tpch_q18_shape")
    assert "TakeOrderedAndProject" in p, p
    assert "SortMergeJoin" not in p and "NestedLoop" not in p, p
    tree = p.split("\n\n")[0]
    # HAVING filter node sits above the final HashAggregate, below joins
    agg_pos = tree.index("HashAggregate")
    join_pos = tree.index("BroadcastHashJoin")
    assert join_pos < agg_pos, tree  # joins consume the filtered agg


def test_rank_blend_shares_one_exchange_and_group_limits(spark):
    """q225: three lang-partitioned windows ride ONE hash exchange (a
    second Exchange appears only for the final global orderBy), and the
    top-5 filter compiles to WindowGroupLimit."""
    p = plan(spark, "q225_rank_blend_quality")
    assert "WindowGroupLimit" in p, p
    tree = p.split("\n\n")[0]
    assert tree.count("Window (") == 3, tree
    assert tree.count("Exchange") == 2, tree  # lang hash + final sort


def test_rfm_windows_run_on_aggregate(spark):
    """q227: the ntile windows must consume the per-user AGGREGATE (one
    row per user), never raw events — in the tree the (partial+final)
    hash aggregate pair sits below every Window node."""
    p = plan(spark, "q227_rfm_segmentation")
    tree = p.split("\n\n")[0]
    assert tree.count("Window") == 3, tree
    last_window = tree.rindex("Window")
    first_agg = tree.index("HashAggregate")
    assert last_window < first_agg, tree  # top-down: windows above aggs


def test_weighted_sample_takes_ordered(spark):
    """q228: weighted top-k compiles to TakeOrderedAndProject
    (per-partition k-heaps) over a shuffle-free keying projection — no
    global sort, no exchange below the limit."""
    p = plan(spark, "q228_weighted_sample")
    tree = p.split("\n\n")[0]
    assert "TakeOrderedAndProject" in tree, tree
    assert "Exchange" not in tree, tree
    assert "Window" not in tree, tree


def test_streaks_share_one_user_exchange(spark):
    """q229: both row_number windows hash-partition on user_id (one
    sub-partitioned by type), so exactly ONE exchange feeds the window
    pair; run identification adds no join."""
    p = plan(spark, "q229_event_streaks")
    tree = p.split("\n\n")[0]
    assert "Join" not in tree, tree
    # exchanges: user_id hash for the windows, two agg exchanges, final sort
    win = tree.count("Window")
    assert win == 2, tree


def test_winsorized_thresholds_broadcast(spark):
    """q230: the |types|-row percentile frame broadcasts onto the second
    scan — clipping must be map-side (BroadcastHashJoin), never a
    shuffle of events against thresholds."""
    p = plan(spark, "q230_winsorized_stats")
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p


def test_cusum_stacks_windows_on_one_exchange(spark):
    """q231: the prefix-min identity must keep CUSUM JVM-side as two
    STACKED running windows over a single user_id exchange — no second
    sort, no Python evaluator, and the per-user agg stays partition-
    local (its aggregate pair has no exchange between the two
    HashAggregates; the only other exchange is the final orderBy)."""
    p = plan(spark, "q231_cusum_changepoint")
    tree = p.split("\n\n")[0]
    assert tree.count("Window") == 2, tree
    assert tree.count("Sort") == 2, tree  # window sort + final orderBy
    assert tree.count("Exchange") == 2, tree
    assert "Python" not in p, p


def test_q21_decorrelation_shares_orderkey_partitioning(spark):
    """q232: the hand-decorrelated Q21 must contain NO correlated
    re-probe artifacts — no nested-loop join anywhere — and (r9
    single-pass form) must scan lineitem exactly ONCE: the ×1000 probe
    caught the old two-branch form executing the 600M-row fact join
    twice because the `late` filter broke AQE exchange reuse. The pair
    aggregate and the per-order window both ride the fact join's
    orderkey partitioning (no extra Exchange between them); the
    supplier dim broadcasts; final top-20 is TakeOrderedAndProject."""
    p = plan(spark, "q232_tpch_q21_shape")
    assert "NestedLoop" not in p, p
    assert "TakeOrderedAndProject" in p, p
    assert p.count("BroadcastHashJoin") >= 1, p
    import re

    # formatted explain renders each node twice (tree + detail
    # section); count the numbered detail entries
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 3, p
    assert "Window" in p, p


def test_pipeline_e2e_composes_without_sort_merge(spark):
    """q233: the five-stage pipeline must compose into broadcast-side
    verdicts (domain + corpus stats), a hash left-semi for dedup, and
    zero sort-merge joins; the only nested-loop is the bounded 1-row
    corpus-stat cross join."""
    p = plan(spark, "q233_training_pipeline_e2e")
    assert "SortMergeJoin" not in p, p
    assert "LeftSemi" in p, p
    assert "BroadcastHashJoin" in p, p
    import re

    nlj = re.findall(r"Broadcast\w*NestedLoopJoin \w+", p)
    assert all("Cross" in x for x in nlj), nlj


def test_tpch_q17_broadcasts_aggregate_and_avoids_nlj(spark):
    """q236: the pruned part keys AND the per-partkey (sum,count)
    aggregate both hash-broadcast back onto the lineitem scan — no
    sort-merge join, no nested loop, and the per-part aggregate is
    partial+final (Exchange between HashAggregates), so no shuffle
    ever carries raw fact rows to the threshold comparison."""
    p = plan(spark, "q236_tpch_q17_shape")
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "CartesianProduct" not in p, p
    assert "SortMergeJoin" not in p, p
    assert p.count("BroadcastHashJoin") >= 2, p
    assert "HashAggregate" in p, p


def test_tpch_q20_semi_chain_broadcasts_and_avoids_nlj(spark):
    """q237: the decorrelated semi-join chain — part filter left-semi
    into the date-pruned fact, dominant suppkeys left-semi into
    supplier, 25-row nation broadcast — must stay hash/broadcast
    everywhere (no NLJ), push the shipdate range into the parquet
    scan, and re-aggregate the PAIR table (not the fact) for the
    per-part totals."""
    p = plan(spark, "q237_tpch_q20_shape")
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "CartesianProduct" not in p, p
    assert p.count("BroadcastHashJoin") >= 2, p
    # shipdate pushdown reaches the scan
    assert "l_shipdate" in p and "PushedFilters" in p, p


def test_tpch_q22_broadcasts_threshold_and_anti_joins(spark):
    """q239: the global balance threshold is a 1-row broadcast (its
    cross join is BroadcastNestedLoopJoin over ONE row — bounded by
    construction), the 1997 no-orders predicate is a left-ANTI hash
    join with the orderdate range pushed to the orders scan, and the
    nation rollup is partial+final."""
    p = plan(spark, "q239_tpch_q22_shape")
    assert "CartesianProduct" not in p, p
    assert "SortMergeJoin" not in p, p
    assert "LeftAnti" in p, p
    assert "o_orderdate" in p and "PushedFilters" in p, p


def test_tpch_q4_semi_join_residual_and_date_pushdown(spark):
    """q254: EXISTS decorrelates to a LEFT-SEMI hash join whose non-equi
    60-day-lag comparison rides as a residual on the orderkey equi join
    (never a nested loop), with the quarter's date range pushed into
    the orders parquet scan."""
    p = plan(spark, "q254_tpch_q4_shape")
    assert "LeftSemi" in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "CartesianProduct" not in p, p
    assert "GreaterThanOrEqual(o_orderdate" in p, p
    assert "INTERVAL '60' DAY" in p, p  # residual rides the hash join


def test_tpch_q13_on_clause_filter_pushed_and_double_agg(spark):
    """q255: the ON-clause priority exclusion prunes the orders scan
    (Not(EqualTo) in PushedFilters) while the join stays LEFT OUTER —
    customers survive — and the histogram is two stacked hash
    aggregates (per-custkey count, then count-of-counts)."""
    p = plan(spark, "q255_tpch_q13_shape")
    assert "LeftOuter" in p, p
    assert "Not(EqualTo(o_orderpriority,3-MEDIUM))" in p, p
    assert p.count("HashAggregate") >= 4, p  # partial+final at both levels
    assert "count(o_orderkey" in p, p  # null-skipping count keeps the 0 bucket


def test_tpch_q19_disjunction_prunes_both_scans(spark):
    """q256: constraint propagation derives per-side implied filters
    from the OR-of-ANDs — the quantity-band disjunction reaches the
    lineitem scan and the brand/size disjunction the part scan — while
    the full cross-side disjunction stays as the hash join's residual
    condition. No NLJ, part side broadcast."""
    p = plan(spark, "q256_tpch_q19_shape")
    assert "BroadcastHashJoin" in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "LessThanOrEqual(l_quantity,36.0)" in p, p
    assert "EqualTo(p_brand,Brand#12)" in p, p
    assert "Join condition" in p and "Brand#34" in p, p


def test_q260_skew_join_actually_splits(spark):
    """q260: under the entry's confs the executed plan must carry
    skew=true on the sort-merge join and a skewed AQEShuffleRead —
    proof the runtime mechanism fired, not just that the confs were
    set. (Two prerequisites this test guards: the fact side must have
    >1 mapper — AQE splits at map-output boundaries — and
    forceOptimizeSkewedJoin must survive ValidateRequirements' revert
    when the partial agg shares the join's stage.)"""
    from s4_spark.queries.joins import _SKEW_CONFS, _q260_join

    with scoped_conf(spark, _SKEW_CONFS):
        df = _q260_join(spark, SF_DIR)
        df.collect()
        executed = df._jdf.queryExecution().executedPlan().toString()
    assert "skew=true" in executed, executed[:2000]
    assert "skewed" in executed, executed[:2000]


def test_q261_tpch_q15_reuses_revenue_exchange(spark):
    """q261: the argmax-over-aggregate shape — the revenue aggregate's
    shuffle must be REUSED by the scalar-max branch at execution (AQE
    exchange reuse), not recomputed from a second fact scan; both
    joins broadcast, no NLJ."""
    df = REGISTRY["q261_tpch_q15_shape"].fn(spark, SF_DIR)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in executed, executed[:3000]
    p = plan(spark, "q261_tpch_q15_shape")
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "CartesianProduct" not in p, p
    assert p.count("BroadcastHashJoin") >= 2, p


def test_q259_ewma_single_user_exchange(spark):
    """q259: both the bounded-frame window and the per-user rollup ride
    ONE user_id hash exchange; the 16-row frame keeps state O(K) per
    row (collect_list over a bounded frame, no unbounded buffers); no
    Python in the plan."""
    p = plan(spark, "q259_ewma_smoothing")
    assert p.count("hashpartitioning(user_id") == 1, p
    assert "Python" not in p, p
    assert "Window" in p, p


def test_q262_applyinarrow_plan_node(spark):
    """q262: the grouped-map runs as FlatMapGroupsInArrow (raw Arrow
    exchange, no pandas conversion node) over a single event_type
    exchange."""
    p = plan(spark, "q262_grouped_applyInArrow")
    assert "FlatMapGroupsInArrow" in p, p
    assert p.count("hashpartitioning(event_type") == 1, p


def test_q263_bucket_pruning_selects_buckets(spark):
    """q263: the IN predicate on the bucket column must prune buckets at
    planning time — the scan reports 2 of 8 buckets selected, and the
    table scan is bucketed."""
    p = plan(spark, "q263_bucket_pruning")
    assert "Bucketed: true" in p, p
    assert "SelectedBucketsCount: 2 out of 8" in p, p


def test_q264_iter_udf_is_arrow_vectorized(spark):
    """q264: the iterator pandas UDF runs as one ArrowEvalPython pass
    (vectorized batches), never BatchEvalPython row pickling."""
    p = plan(spark, "q264_iter_pandas_udf")
    assert "ArrowEvalPython" in p, p
    assert "BatchEvalPython" not in p, p


def test_q270_aqe_switches_smj_to_broadcast(spark):
    """q270: the initial (static) plan must carry a SortMergeJoin and
    the final adaptive plan a BroadcastHashJoin — the runtime strategy
    switch demonstrably happened, on stats the static planner did not
    have."""
    from s4_spark.queries.joins import _STRATEGY_SWITCH_CONFS, _q270_join

    with scoped_conf(spark, _STRATEGY_SWITCH_CONFS):
        df = _q270_join(spark, SF_DIR)
        df.collect()
        executed = df._jdf.queryExecution().executedPlan().toString()
    assert "== Initial Plan ==" in executed, executed[:500]
    final, initial = executed.split("== Initial Plan ==")
    assert "SortMergeJoin" in initial, initial[:2000]
    assert "BroadcastHashJoin" in final, final[:2000]
    assert "SortMergeJoin" not in final, final[:2000]


def test_q272_null_safe_join_stays_hash_join(spark):
    """q272: the EqualNullSafe key must be rewritten to the hashable
    (coalesce(k, ''), isnull(k)) composite so the join stays a
    BroadcastHashJoin — never the nested-loop fallback a non-equi
    predicate would force."""
    p = plan(spark, "q272_null_safe_join")
    assert "BroadcastHashJoin" in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "coalesce" in p and "isnull" in p, p


def test_q274_both_branches_scan_cache(spark):
    """q274: with the enrichment frame persisted, BOTH union branches
    must read InMemoryTableScan instead of re-running the join; after
    unpersist the cache node disappears again (lifetime is scoped)."""
    from pyspark.storagelevel import StorageLevel

    from s4_spark.queries.scans import _q274_frames

    enriched, out = _q274_frames(spark, SF_DIR)
    enriched.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        p = out._sc._jvm.PythonSQLUtils.explainString(
            out._jdf.queryExecution(), "formatted"
        )
        # formatted output lists each node in tree + details; the
        # BroadcastHashJoin still PRINTS under InMemoryRelation (it is
        # the cached plan's provenance) but the live branches read the
        # two InMemoryTableScans.
        assert p.count("InMemoryTableScan") >= 2, p
        assert "InMemoryRelation" in p, p
    finally:
        enriched.unpersist()
    enriched2, out2 = _q274_frames(spark, SF_DIR)
    p2 = out2._sc._jvm.PythonSQLUtils.explainString(
        out2._jdf.queryExecution(), "formatted"
    )
    assert "InMemoryTableScan" not in p2, p2


def test_q275_pandas_api_stays_jvm_side(spark):
    """q275: pandas-on-Spark is a front-end, not a UDF — the plan must
    contain no Python evaluation node and a real partial+final
    aggregate."""
    p = plan(spark, "q275_pandas_api_on_spark")
    for node in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas"):
        assert node not in p, p
    assert "HashAggregate" in p, p
    assert "SinglePartition" not in p, p


def test_q277_recursive_cte_union_loop(spark):
    """q277: the recursive CTE must plan as the engine's iterative
    union-loop operator (set-based fixpoint inside one plan), with the
    final rollup a real partial+final hash aggregate over the closure.
    Pins the un-materialized builder — the entry itself eagerly
    materializes under a derived cteRecursionRowLimit (q194 discipline),
    which hides the loop behind a LogicalRDD."""
    from s4_spark.queries.functions import _q277_frame

    df = _q277_frame(spark, SF_DIR)
    p = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "UnionLoop" in p, p[:3000]
    assert "HashAggregate" in p, p[:3000]


def test_q277_recursion_limit_scales_with_input_and_restores(spark):
    """q277 at any SF: the entry must derive a closure bound from the
    input (count x bit_length(max key)) instead of inheriting the
    engine's fixed 1M default — the closure legitimately reaches ~3M
    rows at 10x the bench SF (round-7 scale probe) — and must restore
    the session limit afterwards (conf-leak discipline)."""
    from s4_spark.queries import REGISTRY

    before = spark.conf.get("spark.sql.cteRecursionRowLimit")
    rows = REGISTRY["q277_recursive_cte"].fn(spark, SF_DIR).collect()
    assert len(rows) > 0
    assert spark.conf.get("spark.sql.cteRecursionRowLimit") == before


def test_q278_sql_udf_inlines_to_expressions(spark):
    """q278: SQL UDFs must be inlined at analysis — zero Python
    evaluation nodes, the filter pushed to the scan, and a partial+final
    aggregate as if the formulas were written by hand."""
    p = plan(spark, "q278_sql_udf")
    for node in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas"):
        assert node not in p, p
    assert "HashAggregate" in p, p
    assert "PushedFilters" in p and "l_shipdate" in p, p


def test_q279_bloom_filter_injected_on_probe_side(spark):
    """q279: under forced-shuffle confs the optimizer must inject the
    dim-side bloom into the fact scan side as might_contain(...), and
    the join must actually be the shuffle join the rewrite targets."""
    from s4_spark.queries.joins import _Q279_BLOOM_CONFS, _q279_frame

    with scoped_conf(spark, _Q279_BLOOM_CONFS):
        df = _q279_frame(spark, SF_DIR)
        p = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
    assert "might_contain" in p, p[:4000]
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p, p[:4000]
    assert "BroadcastHashJoin" not in p, p[:4000]


def test_q281_pair_predicate_stays_filter_not_nlj(spark):
    """q281 (TPC-H Q7): the disjunctive nation-pair coupling must be a
    post-join Filter over broadcast-joined dimension columns — all joins
    equi (no BroadcastNestedLoopJoin/CartesianProduct), nation/supplier
    paths broadcast, facts meeting on their natural keys."""
    p = plan(spark, "q281_tpch_q7_shape")
    assert "BroadcastNestedLoopJoin" not in p, p[:3000]
    assert "CartesianProduct" not in p, p[:3000]
    assert "BroadcastHashJoin" in p, p[:3000]
    # the shipdate range must reach the lineitem scan
    assert "PushedFilters" in p and "l_shipdate" in p, p[:3000]


def test_q282_single_aggregate_single_fact_scan(spark):
    """q282 (TPC-H Q8): numerator (CASE) and denominator ride ONE
    aggregate over ONE lineitem scan — a self-join or second scan would
    double the fact cost; dims broadcast."""
    p = plan(spark, "q282_tpch_q8_shape")
    # exactly one lineitem scan (each scan prints one Location line)
    assert p.count("lineitem.parquet") == 1, p[:4000]
    assert "BroadcastHashJoin" in p, p[:3000]
    assert "BroadcastNestedLoopJoin" not in p, p[:3000]


def test_q280_xml_codec_is_jvm_expression(spark):
    """q280: to_xml/from_xml must be plain JVM expressions in the
    projection — zero Python evaluation nodes, and the aggregate behind
    the codec keeps its partial+final shape."""
    p = plan(spark, "q280_xml_roundtrip")
    assert "from_xml" in p and "to_xml" in p, p[:3000]
    for node in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas"):
        assert node not in p, p
    assert "HashAggregate" in p, p[:3000]


def test_brute_force_topk_dispatches_above_threshold(spark):
    """VERDICT r6 item 3: above dispatch_rows candidates, brute_force_topk
    must NOT plan the crossJoin+window Q x N scored space — the plan
    switches to the block-partitioned MapInPandas formulation (per-batch
    top-k, shuffle sees <= Q x k x n_batches rows). Below the threshold
    the crossJoin exact path remains. Results are bit-identical."""
    from s4_spark.operators import similarity as S
    from pyspark.sql import functions as F

    e = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    queries = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    cands = e.select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")
    )

    dispatched = S.brute_force_topk(queries, cands, k=5, dispatch_rows=10)
    p = dispatched._sc._jvm.PythonSQLUtils.explainString(
        dispatched._jdf.queryExecution(), "formatted"
    )
    assert "MapInPandas" in p, p[:3000]
    for node in ("CartesianProduct", "BroadcastNestedLoopJoin"):
        assert node not in p, p[:3000]

    pinned = S.brute_force_topk(queries, cands, k=5, dispatch_rows=None)
    got = sorted(map(tuple, dispatched.collect()))
    want = sorted(map(tuple, pinned.collect()))
    assert got == want


def test_allpairs_topk_matches_crossjoin_formulation(spark):
    """Round-7 probe rework: allpairs_topk_cosine (broadcast matrix +
    per-batch vectorized scoring, each pair produced once in the batch
    owning its smaller id) must return the BIT-IDENTICAL top-k pair list
    to the self-crossJoin + HOF-cosine formulation it replaces above the
    dispatch threshold (q122, and q141's exact reference) — same seq-fold
    fp accumulation, same rounding, same (cos desc, id_a, id_b) order."""
    from pyspark.sql import functions as F

    from s4_spark.operators import similarity as S

    e = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    got = [tuple(r) for r in S.allpairs_topk_cosine(e, k=10).collect()]
    a = e.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = e.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    want = [
        tuple(r)
        for r in (
            a.join(b, F.col("id_a") < F.col("id_b"))
            .select(
                "id_a",
                "id_b",
                F.round(S.cosine(F.col("va"), F.col("vb")), 6).alias("cos"),
            )
            .orderBy(F.col("cos").desc(), "id_a", "id_b")
            .limit(10)
        ).collect()
    ]
    assert got == want
    assert len(got) == 10


def test_allpairs_regime_bound_enforced(spark):
    """VERDICT r7 item 2: allpairs_topk_cosine collects and broadcasts
    the full (id, vector) matrix, so its declared exact-baseline regime
    must be a HARD bound, not a docstring — past ``max_broadcast_rows``
    it raises (pointing at LSH/IVF candidate generation) BEFORE anything
    reaches the driver, instead of OOMing on a 10M-vector call."""
    import pytest

    from s4_spark.operators import similarity as S

    e = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    with pytest.raises(ValueError, match="candidates sublinearly"):
        S.allpairs_topk_cosine(e, k=5, max_broadcast_rows=10)
    # in-regime (default bound) still answers; bound=None pins it off
    assert S.allpairs_topk_cosine(e, k=3).count() == 3
    assert S.allpairs_topk_cosine(e, k=3, max_broadcast_rows=None).count() == 3


def test_cosine_kernels_reach_a_worker_without_the_package(tmp_path):
    """The shared seq_dot/seq_norm pair ships by value: it unpickles and
    runs in an interpreter that cannot import s4_spark, as a Python
    worker may be."""
    import subprocess
    import sys

    from pyspark import cloudpickle

    from s4_spark.operators.similarity import _seq_kernels

    blob = tmp_path / "kernels.pkl"
    blob.write_bytes(cloudpickle.dumps(_seq_kernels()))
    code = (
        "import importlib.util, pickle, sys\n"
        "import numpy as np\n"
        "assert importlib.util.find_spec('s4_spark') is None\n"
        "dot, norm = pickle.load(open(sys.argv[1], 'rb'))\n"
        "A = np.array([[3.0, 4.0], [1.0, 0.0]])\n"
        "print(dot(A, A[:1]).ravel().tolist(), norm(A).tolist())\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    run = subprocess.run(
        [sys.executable, "-c", code, str(blob)],
        cwd=tmp_path, env=env, capture_output=True, text=True, check=True,
    )
    assert run.stdout.strip() == "[25.0, 3.0] [5.0, 1.0]"


def test_connected_components_zero_iters_raises_cleanly(spark):
    """r7 advice: the non-convergence message interpolated ``changed``,
    unbound when max_iters <= 0 — that call must raise the intended
    RuntimeError (mentioning that no rounds ran), never a NameError."""
    import pytest

    from s4_spark.operators import dedup as D

    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="no rounds ran"):
        D.connected_components(pairs, max_iters=0)


def test_exceeds_rows_guard_is_metadata_first(spark):
    """_exceeds_rows must answer False for small frames without running a
    count job when Catalyst's sizeInBytes already bounds rows under the
    threshold, and True only when the actual count exceeds it."""
    from s4_spark.operators import similarity as S

    small = spark.range(100).selectExpr("id", "array(1.0, 2.0) AS v")
    assert S._exceeds_rows(small, 1000) is False
    big = spark.range(5000).selectExpr("id", "array(1.0, 2.0) AS v")
    assert S._exceeds_rows(big, 1000) is True
    assert S._exceeds_rows(big, 10_000) is False


def test_simhash_probe_complete_at_declared_radius(spark):
    """VERDICT r6 item 4: q120's candidate generation must be complete at
    its declared Hamming radius by construction. Adversarial pair — every
    8-bit band differs in exactly one bit (Hamming 8, no exact band
    agreement) — is invisible to plain banding and MUST surface via the
    1-bit key multiprobe. The probe stays join-keyed: the plan is a hash
    or sort-merge equi-join on (band_id, band_key), never a nested-loop
    Hamming ball."""
    from s4_spark.operators import dedup as D

    df = spark.createDataFrame(
        [(1, 0), (2, 0x0101010101010101)], "doc_id long, simhash long"
    )
    plain = D.simhash_candidate_pairs(df, "doc_id", max_hamming=12)
    probed = D.simhash_candidate_pairs(
        df, "doc_id", max_hamming=12, probe_1bit=True
    )
    assert plain.count() == 0
    assert [(r.id_a, r.id_b, r.hamming) for r in probed.collect()] == [(1, 2, 8)]

    # complement case for the k-band probe derivation: all 12 diffs
    # clustered in the UNPROBED bands (5-7) forces the 5 probed bands to
    # agree exactly, so plain banding catches it — the two cases together
    # cover the pigeonhole split behind k = max_hamming - n_bands + 1
    v = (0b1111 << 40) | (0b1111 << 48) | (0b1111 << 56)
    df2 = spark.createDataFrame(
        [(1, 0), (2, v)], "doc_id long, simhash long"
    )
    probed2 = D.simhash_candidate_pairs(
        df2, "doc_id", max_hamming=12, probe_1bit=True
    )
    assert [(r.id_a, r.id_b, r.hamming) for r in probed2.collect()] == [(1, 2, 12)]

    p = probed._sc._jvm.PythonSQLUtils.explainString(
        probed._jdf.queryExecution(), "formatted"
    )
    for node in ("CartesianProduct", "BroadcastNestedLoopJoin"):
        assert node not in p, p[:3000]
    assert ("SortMergeJoin" in p) or ("ShuffledHashJoin" in p) or (
        "BroadcastHashJoin" in p
    ), p[:3000]


def test_q253_single_tok_shuffle_broadcast_totals(spark):
    """q253 (chi-square feature selection): presence dedup happens
    JVM-side via array_distinct BEFORE the explode, so the ONLY
    hashpartitioning exchange is the tok-keyed contingency aggregate —
    a post-explode DISTINCT would add a full-width (doc, is_en, tok)
    shuffle ahead of it. Corpus totals ride a broadcast, and the top-20
    is TakeOrderedAndProject, never a global sort."""
    p = plan(spark, "q253_chi2_token_association")
    assert "hashpartitioning(tok" in p, p[:3000]
    assert "hashpartitioning(doc_id" not in p, p[:3000]
    assert "BroadcastExchange" in p, p[:3000]
    assert "TakeOrderedAndProject" in p, p[:3000]


def test_q257_sketch_is_partial_aggregated(spark):
    """q257 (approx_top_k lifecycle): accumulate must run as a partial
    ObjectHashAggregate — each task compresses its token stream to one
    fixed-size sketch BEFORE the per-source shuffle, so shuffle volume
    is sketches, not token occurrences."""
    p = plan(spark, "q257_approx_top_k_sketch")
    assert "ObjectHashAggregate" in p, p[:3000]
    assert "hashpartitioning(source" in p, p[:3000]
    # token rows are never shuffled by tok
    assert "hashpartitioning(tok" not in p, p[:3000]


def test_q266_listagg_pushdown_and_partial_agg(spark):
    """q266 (listagg WITHIN GROUP): the custkey filter reaches the
    parquet scan and the ordered-concat aggregate keeps the
    partial+final ObjectHashAggregate shape on one nationkey shuffle."""
    p = plan(spark, "q266_listagg")
    assert "LessThanOrEqual(c_custkey,200)" in p, p[:3000]
    assert "ObjectHashAggregate" in p, p[:3000]
    assert "hashpartitioning(c_nationkey" in p, p[:3000]


def test_q265_parameters_bind_as_pushed_literals(spark):
    """q265 (parameterized SQL): :param markers bind before analysis, so
    the parameterized spelling pushes the same scan filters as literal
    SQL — and a value smuggling SQL text stays an inert literal (zero
    groups match), never injected syntax."""
    p = plan(spark, "q265_parameterized_sql")
    assert "PushedFilters" in p, p[:3000]
    assert "o_orderpriority" in p and "o_totalprice" in p, p[:3000]

    from s4_spark.catalog import register_views

    register_views(spark, SF_DIR)
    hostile = spark.sql(
        """
        SELECT o_orderstatus, count(*) AS n
        FROM IDENTIFIER(:tbl)
        WHERE o_orderpriority = :prio
        GROUP BY o_orderstatus
        """,
        args={"tbl": "orders", "prio": "2-HIGH' OR '1'='1"},
    )
    assert hostile.count() == 0


def test_q026_order_statistics_matches_theta_join_3sf(spark):
    """r8 verdict item 2: q026's count-only order-statistics regime
    (per-(brand,size) counts × within-brand suffix sums, no pair
    materialization) must be bit-equal to the declared theta-join count
    at every driver gate SF, and the registry entry must dispatch to it
    above Q026_GATE_ROWS."""
    from pyspark.sql import functions as F

    from s4_spark.queries import joins as J

    for sf in ("/root/testdata/sf0.001", SF_DIR, "/root/testdata/sf0.1"):
        part = spark.read.parquet(os.path.join(sf, "part.parquet"))
        p = part.select(F.col("p_brand").alias("b1"), F.col("p_size").alias("s1"))
        q = part.select(F.col("p_brand").alias("b2"), F.col("p_size").alias("s2"))
        want = J._q026_theta_join_count(p, q).collect()[0].n
        got = J._q026_order_statistics_count(part).collect()[0].n
        assert got == want, (sf, got, want)


def test_q026_order_statistics_empty_input_is_zero(spark):
    """ADVICE r9: sum over an empty frame is NULL, but the theta-join
    regime's count(*) over the same empty input is 0 — the exported
    helper must agree with the join path on the degenerate case."""
    from pyspark.sql import functions as F

    from s4_spark.queries import joins as J

    part = (
        spark.read.parquet(os.path.join(SF_DIR, "part.parquet"))
        .filter(F.lit(False))
    )
    row = J._q026_order_statistics_count(part).collect()[0]
    assert row.n == 0 and row.n is not None, row


def test_q026_dispatches_above_gate(spark, monkeypatch):
    """Forcing the gate under the sf0.01 part table (2k rows) must route
    the registry entry through the order-statistics plan — whose
    FORMATTED explain has no join at all — and still return the gate
    path's exact count."""
    from pyspark.sql import functions as F

    from s4_spark.queries import joins as J

    part = spark.read.parquet(os.path.join(SF_DIR, "part.parquet"))
    p = part.select(F.col("p_brand").alias("b1"), F.col("p_size").alias("s1"))
    q = part.select(F.col("p_brand").alias("b2"), F.col("p_size").alias("s2"))
    want = J._q026_theta_join_count(p, q).collect()[0].n

    monkeypatch.setattr(J, "Q026_GATE_ROWS", 100)
    df = J.q026(spark, SF_DIR)
    pl = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "Join" not in pl, pl[:3000]
    assert "Window" in pl, pl[:3000]
    assert df.collect()[0].n == want


def test_q120_minhash_regime_matches_simhash_3sf(spark):
    """r8 verdict item 3 + ADVICE r9: q120's above-gate candidate regime
    (MinHash-LSH, 32 bands × 3 rows tuned for the 0.5 threshold) must
    produce the IDENTICAL verified pair set as the declared SimHash
    banding at every driver gate SF. The MinHash regime is probabilistic
    near the threshold (P(miss | jac=0.5) ≈ 1.4% per pair, fixed seed →
    deterministic here), so this equality pins the tuned banding's
    recall on these corpora rather than claiming completeness."""
    from s4_spark.queries import llm as L

    for sf in ("/root/testdata/sf0.001", SF_DIR, "/root/testdata/sf0.1"):
        docs = spark.read.parquet(os.path.join(sf, "documents.parquet"))
        sim = L._q120_verified_pairs(
            spark, docs, L._q120_simhash_candidates(docs)
        ).collect()
        mh = L._q120_verified_pairs(
            spark, docs, L._q120_minhash_candidates(docs)
        ).collect()
        assert [tuple(r) for r in sim] == [tuple(r) for r in mh], sf


def test_q120_dispatches_above_gate(spark, monkeypatch):
    """Forcing the gate under the sf0.01 corpus (500 docs) must route the
    registry entry through the MinHash candidate stage and return the
    simhash regime's exact verified pairs."""
    from s4_spark.queries import llm as L

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    want = [
        tuple(r)
        for r in L._q120_verified_pairs(
            spark, docs, L._q120_simhash_candidates(docs)
        ).collect()
    ]
    monkeypatch.setattr(L, "Q120_GATE_ROWS", 100)
    got = [tuple(r) for r in L.q120(spark, SF_DIR).collect()]
    assert got == want and len(got) > 0


def test_unix_socket_stream_batches_served_from_prefetch_cache(
    spark, tmp_path, monkeypatch, sock_dir
):
    """The socket source hands Spark the records its driver-side read()
    just spooled, and Spark ships them to the JVM from its prefetch
    cache: no micro-batch runs a Python task to read the spool back.
    Replay (readBetweenOffsets) is the only spool read, and here it
    raises on any non-empty range, so a cache miss in any batch that
    carries records fails the live query. (A fresh query's batch 0 may
    be the empty range [0, 0), which Spark never prefetched.)"""
    import os as _os
    import time as _time

    import s4_spark.sources as sources
    from s4_spark.sources import unix_socket
    from s4_spark.sources.mock import send_when_bound
    from s4_spark.streaming.rigs import running

    def no_replay(self, start, end):
        if end["index"] > start["index"]:
            raise AssertionError(f"batch [{start}, {end}) missed the prefetch cache")
        return iter([])

    # register() pickles the source by value, so the patched method
    # travels to the Python workers that run it
    monkeypatch.setattr(
        unix_socket._SpoolingStreamReader, "readBetweenOffsets", no_replay
    )
    sources.register(spark)
    sock = _os.path.join(sock_dir, "plan_cache.sock")
    seen: list[int] = []

    def observe(df, _bid):
        if n := df.count():
            seen.append(n)

    writer = (
        spark.readStream.format("s4_unixline")
        .option("path", sock)
        .option("mode", "listen")
        .option("spoolDir", str(tmp_path / "spool"))
        .load()
        .writeStream.foreachBatch(observe)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="200 milliseconds")
    )
    try:
        with running(writer) as q:
            for part in range(3):  # the server binds on the first read
                send_when_bound(
                    sock, b"".join(b"rec%d-%d\n" % (part, i) for i in range(10)), 20
                )
                deadline = _time.time() + 30
                while sum(seen) < 10 * (part + 1) and q.exception() is None:
                    assert _time.time() < deadline, seen
                    _time.sleep(0.1)
                assert q.exception() is None, q.exception()
    finally:
        monkeypatch.undo()
        sources.register(spark)  # later tests get the real replay
    assert sum(seen) == 30 and len(seen) >= 3, seen


def test_q121_overlap_count_plan_has_no_set_materialization(spark):
    """q121's width fix (round 11): exact jaccard must come from the
    overlap COUNT aggregation, never from re-joining per-pair shingle-set
    arrays (the shape that moved O(800 GB) at x1000 and died on spill).
    Pins: (a) no collect_set / array build anywhere in the plan; (b) the
    pair-overlap aggregation does a map-side partial combine (partial
    HashAggregate BELOW its shuffle); (c) at gate SF the per-doc sizes
    join is broadcast, not shuffled."""
    p = plan(spark, "q121_ngram_jaccard_exact")
    assert "collect_set" not in p, p
    assert "collect_list" not in p, p
    # partial-then-final agg pattern around an exchange: formatted plans
    # print partial aggs as HashAggregate with "partial_count"
    assert "partial_count" in p, p
    assert "BroadcastHashJoin" in p, p


def test_q121_gates_are_metadata_only_at_driver_sfs(spark):
    """ADVICE r11: q121's construction must not run an eager count()/
    measurement job at any driver gate SF — the plan-stats size estimate
    of every testdata documents table sits under the measure gate, so
    both the Σdf² measurement and the broadcast decision are free."""
    from s4_spark.operators import similarity as S
    from s4_spark.queries import llm as L

    for sf in ("/root/testdata/sf0.001", SF_DIR, "/root/testdata/sf0.1"):
        docs = spark.read.parquet(os.path.join(sf, "documents.parquet"))
        est = S.plan_size_bytes(docs)
        assert 0 < est <= L.Q121_MEASURE_GATE_BYTES, (sf, est)
        assert est <= L.Q121_BCAST_MAX_BYTES, (sf, est)


def test_q121_dispatches_above_df2_ceiling(spark, monkeypatch):
    """VERDICT r11 item 5: forcing the measure gate and the Σdf² ceiling
    under the sf0.01 corpus must route q121 through the LSH-verified arm
    (q120's above-gate candidate stage + the shared exact verification)
    and return the exact arm's rows — this corpus has no pairs in the
    banding's probabilistic miss band (nothing below jac = 0.8), and the
    minhash seeds are fixed, so equality is deterministic here."""
    from s4_spark.queries import llm as L

    want = [tuple(r) for r in L.q121(spark, SF_DIR).collect()]
    monkeypatch.setattr(L, "Q121_MEASURE_GATE_BYTES", 0)
    monkeypatch.setattr(L, "Q121_EXACT_MAX_SUM_DF2", 0)
    got = [tuple(r) for r in L.q121(spark, SF_DIR).collect()]
    assert got == want and len(got) > 0

    # and with only the measure gate forced (ceiling untouched), the
    # measured Σdf² of 500 docs stays under 2e10 → exact arm unchanged
    monkeypatch.setattr(L, "Q121_EXACT_MAX_SUM_DF2", 20_000_000_000)
    got_exact = [tuple(r) for r in L.q121(spark, SF_DIR).collect()]
    assert got_exact == want


def test_ordered_small_no_range_exchange_identical_rows(spark):
    """helpers.ordered_small (r13): bounded-result queries order their
    output with a single-partition sort — the plan must carry NO
    rangepartitioning exchange (and therefore no range-sampling job),
    and the rows must be byte-identical to the global orderBy on the
    same keys. Checked on q030 (the TPC-H Q1 shape) as the
    representative converted entry."""
    from pyspark.sql import functions as F

    df = REGISTRY["q030_hash_agg_tpch_q1"].fn(spark, SF_DIR)
    p = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "rangepartitioning" not in p, p
    assert "Coalesce" in p and "Sort" in p, p

    got = [tuple(r) for r in df.collect()]
    want = [
        tuple(r)
        for r in df.orderBy("l_returnflag", "l_linestatus").collect()
    ]
    assert got == want and len(got) > 0


def test_connected_components_first_round_folds_identity_and_sums(spark):
    """connected_components (r13): the identity labels are folded into
    round 1 (no separate distinct-nodes aggregate, no pre-loop action),
    and convergence still detects the exact fixpoint — a graph whose
    round-1 propagation is already final must converge with labels
    identical to the union-find ground truth, including isolated-pair
    and duplicate-edge inputs."""
    from pyspark.sql import functions as F

    from s4_spark.operators.dedup import connected_components

    edges = [(1, 2), (2, 1), (1, 2), (5, 6), (10, 11), (11, 12)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {
        (r.node, r.label) for r in connected_components(pairs).collect()
    }
    assert got == {
        (1, 1), (2, 1), (5, 5), (6, 5), (10, 10), (11, 10), (12, 10)
    }


def test_only_event_time_lake_frame_hashes_on_day_keys(spark, tmp_path):
    """The lake sink's frame: under event time the rows are hashed on
    (year, month, day) so each day dir gets one object per batch; the
    processing-time frame (the socket path) and the compat frame
    (coalesce(1)) carry no repartition, so they stay shuffle-free."""
    import re

    from s4_spark.pipeline.s4 import S4Config, build_pipeline, lake_frame

    def analyzed(**kw):
        cfg = S4Config(
            input_path=str(tmp_path), output_path=str(tmp_path / "out"),
            checkpoint_path=str(tmp_path / "ckpt"), **kw,
        )
        df = lake_frame(build_pipeline(spark, cfg), cfg)
        return df._jdf.queryExecution().analyzed().toString()

    json_kw = dict(record_type="json", json_schema="id string, ts timestamp")
    event = analyzed(event_time_col="ts", **json_kw)
    keys = re.search(r"RepartitionByExpression \[([^\]]*)\]", event)
    assert keys, event
    assert [k.split("#")[0] for k in keys.group(1).split(", ")] == [
        "year", "month", "day"
    ], event
    for p in (
        analyzed(),
        analyzed(**json_kw),
        analyzed(single_object_per_flush=True),
        analyzed(event_time_col="ts", single_object_per_flush=True, **json_kw),
    ):
        assert "RepartitionByExpression" not in p, p
    assert "Repartition 1, false" in analyzed(single_object_per_flush=True)
