"""B5 — window functions (SURVEY.md §2-B5, Q050-Q054) and B6 — sorts /
limits / top-k (Q060-Q062).

Window partitions shuffle once on the partition key; all functions over
the same (partitionBy, orderBy) share a single sort. Every orderBy is
fully tie-broken so results are deterministic under any parallelism.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from s4_spark.queries.helpers import ordered_small, t
from s4_spark.queries.registry import query


@query(
    "q050_ranking",
    oracle="""
    SELECT * FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER w AS rn,
             rank() OVER w AS rk,
             dense_rank() OVER w AS drk
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    ) WHERE rn <= 3 ORDER BY o_custkey, rn
    """,
    section="B5-windows",
)
def q050(spark, sf_dir):
    """row_number/rank/dense_rank — top-3 orders per customer."""
    w = W.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    return (
        t(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
            F.rank().over(w).alias("rk"),
            F.dense_rank().over(w).alias("drk"),
        )
        .filter(F.col("rn") <= 3)
        .orderBy("o_custkey", "rn")
    )


@query(
    "q051_ntile_percent_rank",
    oracle="""
    SELECT o_orderkey,
           ntile(10) OVER w AS decile,
           round(percent_rank() OVER w, 6) AS pr,
           round(cume_dist() OVER w, 6) AS cd
    FROM orders
    WINDOW w AS (ORDER BY o_totalprice, o_orderkey)
    ORDER BY o_orderkey LIMIT 1000
    """,
    section="B5-windows",
)
def q051(spark, sf_dir):
    """Global ntile/percent_rank/cume_dist over the whole table.

    Scale note (VERDICT r7 item 3): an unpartitioned ``Window.orderBy``
    is inherently an ``Exchange SinglePartition`` — every rank function
    here needs the TOTAL row count and a total order, so one task sees
    all rows. That is the DECLARED contract of this B5 entry (the
    rank-function parity check), fine at dimension-table cardinality;
    it is NOT the 100 TB spelling. At corpus scale, spell global
    position via the two-phase per-partition-offset machinery q182 uses
    (global_row_number: per-partition counts -> cumulative offsets ->
    local rank + offset, no single-partition exchange), and spell
    deciles/quantiles via the mergeable GK sketch q168 uses
    (approx_percentile partial-agg). A plan test pins the
    SinglePartition exchange so this note stays honest if the plan ever
    changes."""
    w = W.orderBy("o_totalprice", "o_orderkey")
    return (
        t(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            F.ntile(10).over(w).alias("decile"),
            F.round(F.percent_rank().over(w), 6).alias("pr"),
            F.round(F.cume_dist().over(w), 6).alias("cd"),
        )
        .orderBy("o_orderkey")
        .limit(1000)
    )


@query(
    "q052_lag_lead",
    oracle="""
    SELECT event_id,
           value - lag(value) OVER w AS delta,
           lead(event_type) OVER w AS next_type
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ORDER BY event_id LIMIT 2000
    """,
    section="B5-windows",
)
def q052(spark, sf_dir):
    """lag/lead per user ordered by (ts, event_id) — per-user deltas."""
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        t(spark, sf_dir, "events")
        .select(
            "event_id",
            (F.col("value") - F.lag("value").over(w)).alias("delta"),
            F.lead("event_type").over(w).alias("next_type"),
        )
        .orderBy("event_id")
        .limit(2000)
    )


@query(
    "q053_running_sum",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS running,
           first_value(o_orderkey) OVER
             (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS first_ord
    FROM orders ORDER BY o_custkey, o_orderkey LIMIT 2000
    """,
    section="B5-windows",
)
def q053(spark, sf_dir):
    """Running sum with explicit ROWS frame (decimal-exact for hashing)."""
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wf = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        t(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            "o_orderkey",
            F.sum(F.col("o_totalprice").cast("decimal(30,6)"))
            .over(wf)
            .cast("double")
            .alias("running"),
            F.first("o_orderkey").over(w).alias("first_ord"),
        )
        .orderBy("o_custkey", "o_orderkey")
        .limit(2000)
    )


@query(
    "q054_range_frame",
    oracle="""
    SELECT event_id,
           CAST(SUM(CAST(value AS DECIMAL(30,6)))
                OVER (PARTITION BY user_id ORDER BY epoch(ts)
                      RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS trailing_7d
    FROM events ORDER BY event_id LIMIT 2000
    """,
    section="B5-windows",
)
def q054(spark, sf_dir):
    """7-day trailing sum via RANGE frame on epoch seconds.

    epoch_s via timestampdiff from the NTZ epoch — NOT unix_timestamp,
    which reads an NTZ wall clock in the session timezone (DST would
    warp the 7-day frame on a non-UTC session; DuckDB's epoch() treats
    the naive value as UTC)."""
    ev = t(spark, sf_dir, "events").withColumn(
        "epoch_s",
        F.expr(
            "timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
        ).cast("long"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("epoch_s")
        .rangeBetween(-604800, W.currentRow)
    )
    return (
        ev.select(
            "event_id",
            F.sum(F.col("value").cast("decimal(30,6)"))
            .over(w)
            .cast("double")
            .alias("trailing_7d"),
        )
        .orderBy("event_id")
        .limit(2000)
    )


# ── B6: sorts / limits / top-k ──────────────────────────────────────────


@query(
    "q060_global_sort",
    oracle="""
    SELECT o_orderkey, o_orderpriority, o_orderdate
    FROM orders
    ORDER BY o_orderpriority DESC, o_orderdate ASC, o_orderkey LIMIT 500
    """,
    section="B6-sorts",
)
def q060(spark, sf_dir):
    """Multi-key global sort — range-partitioned exchange + local sort;
    with LIMIT, Spark plans TakeOrderedAndProject (no full sort at scale)."""
    return (
        t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderpriority", "o_orderdate")
        .orderBy(
            F.col("o_orderpriority").desc(),
            F.col("o_orderdate").asc(),
            "o_orderkey",
        )
        .limit(500)
    )


@query(
    "q061_topk",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 20
    """,
    section="B6-sorts",
)
def q061(spark, sf_dir):
    """Top-k: per-partition heap + driver merge (TakeOrderedAndProject) —
    never a full global sort."""
    return (
        t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(F.col("l_extendedprice").desc(), "l_orderkey", "l_linenumber")
        .limit(20)
    )


@query(
    "q062_per_group_topk",
    oracle="""
    SELECT p_brand, p_partkey, p_retailprice FROM (
      SELECT p_brand, p_partkey, p_retailprice,
             row_number() OVER (PARTITION BY p_brand
                                ORDER BY p_retailprice DESC, p_partkey) AS rn
      FROM part
    ) WHERE rn <= 2 ORDER BY p_brand, p_partkey
    """,
    section="B6-sorts",
)
def q062(spark, sf_dir):
    """Per-group top-k via ranked window; Spark 3.5+ pushes a per-partition
    top-k limit below the shuffle (WindowGroupLimit) automatically."""
    w = W.partitionBy("p_brand").orderBy(F.col("p_retailprice").desc(), "p_partkey")
    return (
        t(spark, sf_dir, "part")
        .select(
            "p_brand",
            "p_partkey",
            "p_retailprice",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 2)
        .drop("rn")
        .orderBy("p_brand", "p_partkey")
    )


@query(
    "q196_scd2_history",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate AS valid_from,
           lead(o_orderdate) OVER w AS valid_to,
           CAST(lead(o_orderdate) OVER w IS NULL AS INT) AS is_current
    FROM orders WHERE o_custkey < 200
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ORDER BY o_custkey, valid_from, o_orderkey
    """,
    section="B5-windows",
)
def q196(spark, sf_dir):
    """Slowly-changing-dimension type-2 history build — each key's
    change events become effective-dated rows: valid_from = the event
    date, valid_to = the NEXT event's date (open-ended for the current
    row), is_current flags the live version. The standard
    dimension-versioning shape every warehouse refresh runs; at corpus
    scale the same pattern dates document versions across re-crawls.

    Scale shape: one key-partitioned window (lead) — partitions are
    per-entity history lengths, never table-sized; no self-join (the
    naive SCD2 formulation joins the table to itself on consecutive
    dates)."""
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    o = t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 200)
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.col("o_orderdate").alias("valid_from"),
            F.lead("o_orderdate").over(w).alias("valid_to"),
            F.lead("o_orderdate").over(w).isNull().cast("int").alias(
                "is_current"
            ),
        )
        .orderBy("o_custkey", "valid_from", "o_orderkey")
    )


@query(
    "q197_batch_sessionization",
    oracle="""
    WITH e AS (SELECT user_id, ts FROM events WHERE user_id < 50),
    flagged AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_sess
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
    sess AS (
      SELECT user_id, ts,
             CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_num
      FROM flagged)
    SELECT user_id, session_num, count(*) AS n_events,
           min(ts) AS session_start, max(ts) AS session_end
    FROM sess GROUP BY user_id, session_num
    ORDER BY user_id, session_num
    """,
    section="B5-windows",
)
def q197(spark, sf_dir):
    """Batch sessionization — the gap-based session assignment (new
    session when >30 min since the user's previous event) that q093
    performs with the streaming session window, here as the batch
    backfill shape: lag-gap flag → running sum = session number →
    per-session stats. Running the SAME session definition in batch and
    streaming is how a pipeline backfills history while the stream
    handles the live edge (the kappa-architecture pairing this repo's
    streaming rigs verify batch-equivalence with).

    Scale shape: two user-partitioned windows on one shuffle (same
    partitioning, no second exchange) + a (user, session) partial agg.
    Timestamps stay NTZ end-to-end (session-timezone-independent);
    the 30-min gap compares NTZ-interval on both engines."""
    w = W.partitionBy("user_id").orderBy("ts")
    e = t(spark, sf_dir, "events").filter(F.col("user_id") < 50).select(
        "user_id", "ts"
    )
    flagged = e.select(
        "user_id", "ts", F.lag("ts").over(w).alias("prev_ts")
    ).select(
        "user_id",
        "ts",
        F.when(
            F.col("prev_ts").isNull()
            | (F.expr("timestampdiff(SECOND, prev_ts, ts)") > 1800),
            1,
        )
        .otherwise(0)
        .alias("new_sess"),
    )
    sess = flagged.select(
        "user_id",
        "ts",
        F.sum("new_sess")
        .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .cast("long")
        .alias("session_num"),
    )
    return (
        sess.groupBy("user_id", "session_num")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
        .orderBy("user_id", "session_num")
    )


# q219's windowed-funnel SQL, also the oracle of its streaming twins
# (q234 in-order, q235 reordering buffer, q247 initial state): a
# stream's final state must equal the batch computation (kappa pairing).
WINDOWED_FUNNEL_SQL = """
    WITH s1 AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id),
    s2 AS (
      SELECT e.user_id, min(e.ts) AS t2, min(s1.t1) AS t1
      FROM events e JOIN s1 ON e.user_id = s1.user_id
        AND e.ts > s1.t1 AND e.ts <= s1.t1 + INTERVAL 48 HOUR
      WHERE e.event_type = 'click' GROUP BY e.user_id),
    s3 AS (
      SELECT e.user_id, min(e.ts) AS t3, min(s2.t1) AS t1
      FROM events e JOIN s2 ON e.user_id = s2.user_id
        AND e.ts > s2.t2 AND e.ts <= s2.t2 + INTERVAL 48 HOUR
      WHERE e.event_type = 'purchase' GROUP BY e.user_id)
    SELECT * FROM (
      SELECT 'step1_view' AS step, count(*) AS n_users,
             CAST(0 AS BIGINT) AS total_lag_us FROM s1
      UNION ALL
      SELECT 'step2_click', count(*),
             CAST(sum(epoch_us(t2) - epoch_us(t1)) AS BIGINT) FROM s2
      UNION ALL
      SELECT 'step3_purchase', count(*),
             CAST(sum(epoch_us(t3) - epoch_us(t1)) AS BIGINT) FROM s3
    ) ORDER BY step
    """


@query("q219_windowed_funnel", oracle=WINDOWED_FUNNEL_SQL, section="B5-windows")
def q219(spark, sf_dir):
    """WINDOWED funnel (view -> click -> purchase, each step within
    48 h of the previous step's earliest completion): how many users
    convert each step IN ORDER AND IN TIME, plus the cumulative lag
    from funnel entry. The conversion deadline is what distinguishes
    this from q145's unbounded funnel — a purchase three weeks after
    the click counts there but not here, and the two entries
    deliberately coexist as the two industry funnel semantics
    (unbounded vs windowed).

    Scale shape: three per-user min-aggregations chained by user_id
    equi-joins — every shuffle is on the SAME key, so one hash
    partitioning carries all stages, and each join's right side is an
    already-aggregated (one row per user) frame that AQE broadcasts at
    dim size. No window sort, no per-user event list materialized:
    state per user is one timestamp per step regardless of event count,
    which is what lets the funnel run over a 100 TB event log."""
    e = t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    s1 = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    deadline = F.expr("INTERVAL 48 HOURS")
    s2 = (
        e.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(
            (F.col("ts") > F.col("t1"))
            & (F.col("ts") <= F.col("t1") + deadline)
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"), F.min("t1").alias("t1"))
    )
    s3 = (
        e.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(
            (F.col("ts") > F.col("t2"))
            & (F.col("ts") <= F.col("t2") + deadline)
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"), F.min("t1").alias("t1"))
    )

    def step(df, label, end_col):
        # MICROSECOND, not SECOND: DuckDB's date_diff counts boundary
        # crossings while Spark's timestampdiff truncates the true delta
        # -- they disagree by 0/1 per row. The microsecond delta is the
        # exact integer both engines agree on.
        lag = (
            F.lit(0).cast("long")
            if end_col is None
            else F.sum(
                F.expr(f"timestampdiff(MICROSECOND, t1, {end_col})")
            ).cast("long")
        )
        return df.agg(
            F.lit(label).alias("step"),
            F.count("*").alias("n_users"),
            lag.alias("total_lag_us"),
        )

    return (
        step(s1, "step1_view", None)
        .unionAll(step(s2, "step2_click", "t2"))
        .unionAll(step(s3, "step3_purchase", "t3"))
        # bounded result (one row per funnel step)
        .transform(ordered_small, "step")
    )


@query(
    "q222_event_transitions",
    oracle="""
    WITH pairs AS (
      SELECT lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type,
             event_type AS next_type
      FROM events),
    n AS (
      SELECT prev_type, next_type, count(*) AS n
      FROM pairs WHERE prev_type IS NOT NULL
      GROUP BY prev_type, next_type)
    SELECT prev_type, next_type, n,
           CAST(n AS DOUBLE)
             / sum(n) OVER (PARTITION BY prev_type) AS p
    FROM n ORDER BY prev_type, next_type
    """,
    section="B5-windows",
)
def q222(spark, sf_dir):
    """First-order Markov transition matrix over per-user event
    sequences: lag(event_type) within user gives (prev, next) bigrams;
    counts normalize to row-stochastic probabilities. The
    session-modeling primitive behind next-event prediction features
    and anomaly scoring (improbable transitions).

    Scale shape: ONE window sort on (user_id | ts, event_id) — the lag
    carries a single string of state — then a 25-cell hash aggregate;
    the normalizing window runs on the 25-row aggregate, not the events.
    The orderBy is fully tie-broken by event_id so the bigram sequence
    is deterministic under any parallelism. p is one bigint division,
    bit-identical across engines."""
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        t(spark, sf_dir, "events")
        .select(
            F.lag("event_type").over(w).alias("prev_type"),
            F.col("event_type").alias("next_type"),
        )
        .filter(F.col("prev_type").isNotNull())
    )
    n = pairs.groupBy("prev_type", "next_type").agg(F.count("*").alias("n"))
    return n.select(
        "prev_type",
        "next_type",
        "n",
        (
            F.col("n").cast("double")
            / F.sum("n").over(W.partitionBy("prev_type"))
        ).alias("p"),
        # bounded result (event-type x event-type transition matrix)
    ).transform(ordered_small, "prev_type", "next_type")


@query(
    "q229_event_streaks",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id)
           - row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id) AS grp
      FROM events),
    runs AS (
      SELECT user_id, event_type, count(*) AS streak
      FROM seq GROUP BY user_id, event_type, grp)
    SELECT user_id, event_type,
           CAST(max(streak) AS BIGINT) AS max_streak,
           count(*) AS n_runs
    FROM runs GROUP BY user_id, event_type
    ORDER BY user_id, event_type
    """,
    section="B5-windows",
)
def q229(spark, sf_dir):
    """Consecutive-event streaks (gaps-and-islands by VALUE, the
    Tabibitosan method): within each user's timeline, maximal runs of
    the same event_type are identified by the difference of two row
    numbers — rn over the user minus rn over (user, type) is constant
    exactly within a consecutive same-type run. Longest streak and run
    count per (user, type): the "3 errors in a row" signal that a
    gap-based session split (q197) cannot express.

    Scale shape: both row_numbers partition by user_id (one is
    sub-partitioned by type), so ONE hash exchange on user_id feeds
    both window sorts; the run/streak rollups are ordinary partial+
    final aggs. Run-identity is pure integer arithmetic — no
    per-user array of events is ever materialized, so a user with 10^9
    events costs two sorted scans of their partition, O(1) memory."""
    order = ["ts", "event_id"]
    seq = t(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        (
            F.row_number().over(W.partitionBy("user_id").orderBy(*order))
            - F.row_number().over(
                W.partitionBy("user_id", "event_type").orderBy(*order)
            )
        ).alias("grp"),
    )
    runs = seq.groupBy("user_id", "event_type", "grp").agg(
        F.count("*").alias("streak")
    )
    return (
        runs.groupBy("user_id", "event_type")
        .agg(
            F.max("streak").cast("long").alias("max_streak"),
            F.count("*").alias("n_runs"),
        )
        .orderBy("user_id", "event_type")
    )


@query(
    "q231_cusum_changepoint",
    oracle="""
    WITH c AS (
      SELECT user_id, ts, event_id,
             SUM(CAST(value AS DECIMAL(30,6)) - 100)
               OVER w AS cum
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING)),
    s AS (
      -- CASE, not least(): DuckDB's least() promotes DECIMAL args to
      -- DOUBLE, which puts float epsilon into cusum and can flip the
      -- > 150 alert comparison on an exactly-150 row (seen at sf0.1).
      SELECT user_id,
             cum - (CASE WHEN min(cum) OVER w2 < 0
                         THEN min(cum) OVER w2
                         ELSE CAST(0 AS DECIMAL(38,6)) END) AS cusum
      FROM c
      WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS UNBOUNDED PRECEDING))
    SELECT user_id,
           round(CAST(max(cusum) AS DOUBLE), 6) AS max_cusum,
           CAST(sum(CASE WHEN cusum > 150 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_alerts
    FROM s GROUP BY user_id ORDER BY user_id
    """,
    section="B5-windows",
)
def q231(spark, sf_dir):
    """CUSUM change-point detection per user (Page 1954): the upward
    cumulative sum s_i = max(0, s_{i-1} + (x_i - target)) flags
    sustained drift above the target that no single-point threshold
    catches; max_cusum and alert counts (s > h) per user.

    The recurrence looks like it needs a sequential per-key fold (the
    applyInPandas tier) — but the classic prefix identity
    s_i = c_i - min(0, min_{j<=i} c_j), with c the running sum of
    (x - target), turns it into TWO stacked running-window passes that
    stay entirely JVM-side. Scale shape: both windows and the final agg
    partition on user_id — one exchange, two sequential scans per
    partition, O(1) state per row. Arithmetic is decimal-exact end to
    end (running sums of 2-decimal values), so accumulator drift can't
    desync the s > h alert comparisons across engines — a float CUSUM
    would."""
    order = ["ts", "event_id"]
    wrun = (
        W.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    c = t(spark, sf_dir, "events").select(
        "user_id",
        *order,
        F.sum(F.col("value").cast("decimal(30,6)") - 100)
        .over(wrun)
        .alias("cum"),
    )
    # CASE mirror of the oracle (DuckDB least() would go DOUBLE there;
    # Spark's least stays decimal, but both sides use the same spelling
    # so the types provably match).
    rmin = F.min("cum").over(wrun)
    s = c.select(
        "user_id",
        (
            F.col("cum")
            - F.when(rmin < 0, rmin).otherwise(F.lit(0).cast("decimal(38,6)"))
        ).alias("cusum"),
    )
    return (
        s.groupBy("user_id")
        .agg(
            F.round(F.max("cusum").cast("double"), 6).alias("max_cusum"),
            F.sum((F.col("cusum") > 150).cast("int"))
            .cast("long")
            .alias("n_alerts"),
        )
        .orderBy("user_id")
    )


@query(
    "q259_ewma_smoothing",
    # Integer-weight EWMA: with alpha=1/4 the lag-j weight (3/4)^j
    # scaled by 4^(m-1) is the INTEGER 3^j * 4^(m-1-j), so the
    # numerator is an exact decimal sum of (value x integer) products
    # and the denominator the closed-form 4^m - 3^m — one final IEEE
    # division per row, no order-dependent float accumulation. The
    # oracle spells the same weights via a bounded self-join.
    oracle="""
    WITH r AS (
      SELECT user_id, event_id, CAST(value AS DECIMAL(20,6)) AS xd,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events),
    e AS (
      SELECT a.user_id, a.rn,
             round(CAST(SUM(b.xd * CAST(power(3, a.rn - b.rn)
                              * power(4, least(a.rn,16) - 1 - (a.rn - b.rn))
                              AS DECIMAL(12,0))) AS DOUBLE)
                   / (power(4, least(a.rn,16)) - power(3, least(a.rn,16))),
                   6) AS ewma
      FROM r a JOIN r b
        ON b.user_id = a.user_id AND b.rn BETWEEN a.rn - 15 AND a.rn
      GROUP BY a.user_id, a.rn)
    SELECT user_id, count(*) AS n_events,
           arg_max(ewma, rn) AS last_ewma,
           CAST(SUM(CAST(ewma AS DECIMAL(30,6))) AS DOUBLE) AS ewma_sum
    FROM e GROUP BY user_id ORDER BY user_id
    """,
    section="B5-windows",
)
def q259(spark, sf_dir):
    """Trailing exponentially-weighted moving average per user
    (alpha = 1/4 over the last 16 events) — the smoothing signal a
    monitoring pipeline pairs with q231's CUSUM: CUSUM flags sustained
    drift, EWMA is the drift estimate itself. Truncated-window form
    with weights renormalized over the rows actually present, so early
    rows are unbiased.

    Scale shape: one user_id exchange; collect_list over a BOUNDED
    16-row frame (O(K) per row, not O(history)) feeds a codegen'd
    higher-order fold — no Python, no self-join (the oracle's join
    spelling would be a K-fold row blowup at 100 TB; the window frame
    form ships each row once). Cross-engine exactness is the design
    center: alpha = 1/4 makes every weight an integer after scaling
    (3^j * 4^(m-1-j), max 4^15 ~ 2^30 — exact in the double pow both
    engines evaluate), the weighted sum is decimal-exact, and the
    geometric closed form 4^m - 3^m replaces a weight-sum fold."""
    order = ["ts", "event_id"]
    frame = (
        W.partitionBy("user_id").orderBy(*order).rowsBetween(-15, W.currentRow)
    )
    wn = W.partitionBy("user_id").orderBy(*order)
    rows = t(spark, sf_dir, "events").select(
        "user_id",
        *order,
        F.row_number().over(wn).alias("rn"),
        F.collect_list(F.col("value").cast("decimal(20,6)")).over(frame).alias("xs"),
    )
    ewma = rows.select(
        "user_id",
        "rn",
        F.round(
            F.expr(
                """
                CAST(aggregate(
                  zip_with(xs, sequence(0, size(xs) - 1),
                           (x, p) -> x * CAST(power(3, size(xs) - 1 - p)
                                              * power(4, p) AS BIGINT)),
                  CAST(0 AS DECIMAL(38,6)),
                  (acc, v) -> CAST(acc + v AS DECIMAL(38,6))) AS DOUBLE)
                / (power(4, size(xs)) - power(3, size(xs)))
                """
            ),
            6,
        ).alias("ewma"),
    )
    return (
        ewma.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.max_by("ewma", "rn").alias("last_ewma"),
            F.sum(F.col("ewma").cast("decimal(30,6)")).cast("double").alias("ewma_sum"),
        )
        .orderBy("user_id")
    )
