"""B10 — UDF / UDAF / UDTF surface (SURVEY.md §2-B10, Q100-Q105).

UDFs are the slow path; these queries exist to prove the surface works
and to pin its semantics against native expressions. Every pandas UDF is
Arrow-batched (vectorized); the row-at-a-time Python UDF appears exactly
once (q100) as the declared-but-discouraged baseline.
"""

from __future__ import annotations

from typing import Iterator, Tuple

import pandas as pd

from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from s4_spark.queries.helpers import ordered_small, t, ts
from s4_spark.queries.registry import query


@query(
    "q100_python_udf",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           round(l_extendedprice * (1 - l_discount), 4) AS net
    FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 200
    """,
    section="B10-udfs",
)
def q100(spark, sf_dir):
    """Row-at-a-time Python UDF == native expression (the correctness
    contract; perf-wise this path is ~100x slower than q010's native
    projection and is never used in the engine's own operators)."""

    @F.udf("double")
    def net_price(price: float, discount: float) -> float:
        return round(price * (1 - discount), 4)

    return (
        t(spark, sf_dir, "lineitem")
        .select(
            "l_orderkey",
            "l_linenumber",
            net_price("l_extendedprice", "l_discount").alias("net"),
        )
        .orderBy("l_orderkey", "l_linenumber")
        .limit(200)
    )


@query(
    "q101_pandas_udf",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           round(l_extendedprice * (1 - l_discount), 4) AS net
    FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 200
    """,
    section="B10-udfs",
)
def q101(spark, sf_dir):
    """Vectorized (Arrow) scalar pandas UDF — same contract as q100,
    ~10-100x faster per batch."""

    @pandas_udf("double")
    def net_price(price: pd.Series, discount: pd.Series) -> pd.Series:
        return (price * (1 - discount)).round(4)

    return (
        t(spark, sf_dir, "lineitem")
        .select(
            "l_orderkey",
            "l_linenumber",
            net_price("l_extendedprice", "l_discount").alias("net"),
        )
        # NOTE (r13): evaluating the UDF only over the top-200 rows was
        # A/B-tested and REJECTED — interposing ArrowEvalPython between
        # limit and sort breaks TakeOrderedAndProject into a full
        # global sort + exchange (1.38 s vs 0.55 s), costing more than
        # the discarded UDF rows save.
        .orderBy("l_orderkey", "l_linenumber")
        .limit(200)
    )


@query(
    "q102_grouped_agg_pandas_udf",
    oracle="""
    SELECT o_orderstatus,
           min(o_totalprice) AS min_price,
           round(CAST(SUM(CAST(o_totalprice * o_custkey AS DECIMAL(38,8))) AS DOUBLE)
                 / CAST(SUM(CAST(o_custkey AS DECIMAL(30,6))) AS DOUBLE), 4)
             AS wmean
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    section="B10-udfs",
)
def q102(spark, sf_dir):
    """Grouped-agg pandas UDF (min + custkey-weighted mean price).

    The weighted mean is rounded to 4 dp: pandas sums in a different
    order than the oracle's exact decimal path; at these magnitudes the
    double-sum error is ~1e-7, far inside the rounding."""

    @pandas_udf("double")
    def min_udaf(v: pd.Series) -> float:
        return float(v.min())

    @pandas_udf("double")
    def wmean_udaf(v: pd.Series, w: pd.Series) -> float:
        return round(float((v * w).sum() / w.sum()), 4)

    return (
        t(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            min_udaf("o_totalprice").alias("min_price"),
            wmean_udaf("o_totalprice", "o_custkey").alias("wmean"),
        )
        # bounded result (one row per order status)
        .transform(ordered_small, "o_orderstatus")
    )


@query(
    "q103_grouped_map_applyInPandas",
    oracle="""
    SELECT o_orderkey,
           round((o_totalprice - avg(o_totalprice) OVER (PARTITION BY o_orderstatus))
                 / stddev_samp(o_totalprice) OVER (PARTITION BY o_orderstatus), 6)
             AS z
    FROM orders ORDER BY o_orderkey LIMIT 2000
    """,
    section="B10-udfs",
)
def q103(spark, sf_dir):
    """Grouped-map applyInPandas: per-status z-score == window-function SQL
    (pandas mean/std(ddof=1) vs avg/stddev_samp; 6-dp rounding absorbs
    summation-order noise)."""

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        v = pdf["o_totalprice"]
        return pd.DataFrame(
            {
                "o_orderkey": pdf["o_orderkey"],
                "z": ((v - v.mean()) / v.std(ddof=1)).round(6),
            }
        )

    return (
        t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .groupBy("o_orderstatus")
        .applyInPandas(zscore, "o_orderkey long, z double")
        .orderBy("o_orderkey")
        .limit(2000)
    )


@query(
    "q104_udtf_split_to_rows",
    oracle="""
    SELECT doc_id, unnest(string_split(text, ' ')) AS token
    FROM (SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT 20)
    ORDER BY doc_id, token
    """,
    section="B10-udfs",
)
def q104(spark, sf_dir):
    """Python UDTF (lateral table function) splitting text to token rows —
    checked against the built-in explode(split(...)) semantics."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="token: string")
    class SplitWords:
        def eval(self, text: str):
            for tok in (text or "").split(" "):
                yield (tok,)

    docs = t(spark, sf_dir, "documents").orderBy("doc_id").limit(20)
    docs.createOrReplaceTempView("q104_docs")
    spark.udtf.register("split_words", SplitWords)
    return spark.sql(
        """
        SELECT doc_id, s.token FROM q104_docs,
        LATERAL split_words(text) AS s
        ORDER BY doc_id, token
        """
    )


@query(
    "q105_mapInPandas",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) AS net
    FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 200
    """,
    section="B10-udfs",
)
def q105(spark, sf_dir):
    """mapInPandas pass-through-with-derived-column == native projection
    (the iterator-of-batches shape the multimodal operators build on)."""
    from collections.abc import Iterator

    def add_net(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf[["l_orderkey", "l_linenumber"]].assign(
                net=pdf["l_extendedprice"] * (1 - pdf["l_discount"])
            )
            yield pdf

    return (
        t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_discount")
        .mapInPandas(add_net, "l_orderkey long, l_linenumber int, net double")
        .orderBy("l_orderkey", "l_linenumber")
        .limit(200)
    )


@query(
    "q199_arrow_python_udf",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           round(l_extendedprice * (1 - l_discount), 4) AS net
    FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 200
    """,
    section="B10-udfs",
)
def q199(spark, sf_dir):
    """Arrow-optimized scalar Python UDF (`useArrow=True`, Spark 3.5+) —
    q100's contract on the third Python execution path: same per-row
    function signature as the pickled UDF but batched over Arrow like a
    pandas UDF, closing the B10 matrix (pickled row UDF / Arrow row UDF
    / pandas UDF / grouped / map / UDTF). Where per-row Python logic is
    genuinely unavoidable, this is the variant to reach for: the
    (de)serialization cost drops from per-row pickle to columnar Arrow
    batches while keeping the simple one-value-at-a-time authoring
    model. The plan shows ArrowEvalPython instead of BatchEvalPython
    (pinned in tests/test_plans.py)."""

    @F.udf("double", useArrow=True)
    def net_price(price: float, discount: float) -> float:
        return round(price * (1 - discount), 4)

    return (
        t(spark, sf_dir, "lineitem")
        .select(
            "l_orderkey",
            "l_linenumber",
            net_price("l_extendedprice", "l_discount").alias("net"),
        )
        .orderBy("l_orderkey", "l_linenumber")
        .limit(200)
    )


@query(
    "q245_polymorphic_udtf",
    oracle="""
    SELECT o_orderkey,
           CAST(o_custkey AS VARCHAR) AS custkey,
           o_orderstatus AS status,
           o_orderpriority AS priority
    FROM orders ORDER BY o_orderkey LIMIT 200
    """,
    section="B10-udfs",
)
def q245(spark, sf_dir):
    """POLYMORPHIC UDTF (Spark 4): unlike q104's fixed-schema table
    function, this one has no declared returnType — a static
    ``analyze()`` receives the call's CONSTANT argument (the wanted key
    list) at PLAN TIME and derives the output schema from it, so the
    same function materializes different columns per call site. The
    eval side parses ``k=v;k=v`` records; the oracle re-selects the
    original columns, proving the parse/rebuild round trip.

    Scale shape: the UDTF runs Arrow-batched per partition inside
    ``LATERAL``; schema resolution happens once on the driver at
    analysis, never per row. Catalyst sees concrete output attributes,
    so downstream pruning/pushdown work as for any table."""
    from pyspark.sql.functions import udtf
    from pyspark.sql.types import StringType, StructType
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult

    @udtf
    class ParseKV:
        @staticmethod
        def analyze(record: AnalyzeArgument, keys: AnalyzeArgument) -> AnalyzeResult:
            if not keys.isConstantExpression:
                raise ValueError("keys must be a constant")
            schema = StructType()
            for k in keys.value.split(","):
                schema = schema.add(k, StringType())
            return AnalyzeResult(schema=schema)

        def __init__(self):
            self._keys = None

        def eval(self, record: str, keys: str):
            wanted = keys.split(",")
            kv = dict(p.split("=", 1) for p in record.split(";") if p)
            yield tuple(kv.get(k) for k in wanted)

    spark.udtf.register("s4_parse_kv", ParseKV)
    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.concat_ws(
            ";",
            F.concat(F.lit("custkey="), F.col("o_custkey").cast("string")),
            F.concat(F.lit("status="), F.col("o_orderstatus")),
            F.concat(F.lit("priority="), F.col("o_orderpriority")),
        ).alias("record"),
    )
    orders.createOrReplaceTempView("q245_orders")
    return spark.sql(
        """
        SELECT o.o_orderkey, p.custkey, p.status, p.priority
        FROM q245_orders o,
             LATERAL s4_parse_kv(o.record, 'custkey,status,priority') p
        ORDER BY o.o_orderkey LIMIT 200
        """
    )


@query(
    "q262_grouped_applyInArrow",
    # Integer micro-units end-to-end: the JVM pre-scales value to
    # int64 micros, the Arrow kernel computes n*x - sum(x) per group
    # (exact, order-independent int64 arithmetic), so the grouped
    # result cannot drift on float summation order the way a naive
    # mean-subtraction would.
    oracle="""
    SELECT event_type, event_id,
           CAST(count(*) OVER (PARTITION BY event_type)
                  * CAST(round(value * 1e6) AS BIGINT)
                - SUM(CAST(round(value * 1e6) AS BIGINT))
                    OVER (PARTITION BY event_type)
                AS BIGINT) AS dev_num,
           count(*) OVER (PARTITION BY event_type) AS n
    FROM events ORDER BY event_type, event_id
    """,
    section="B10-udfs",
)
def q262(spark, sf_dir):
    """Grouped-map on RAW ARROW tables (`applyInArrow`, Spark 4.0) —
    the last cell of the B10 grouped-execution matrix beside
    applyInPandas (q103, pandas conversion per group) and mapInPandas
    (q105): the kernel receives each group as a pyarrow.Table and
    answers with one, skipping the pandas materialization entirely.
    That matters when the per-group logic is itself Arrow-native
    (compute kernels, zero-copy slicing, feeding an Arrow-IPC model
    runtime): no index building, no NumPy copies, no dtype coercion.

    The kernel centers each event's value against its type's group
    aggregate, emitting the exact integer numerator n*x - sum(x) (the
    deviation times n) rather than a float mean-subtraction — the same
    one-final-division discipline as q215. Scale shape: one
    event_type-keyed shuffle brings each group to one task as Arrow
    batches; pa.compute.sum is a single exact int64 reduction; output
    streams back columnar. Groups must fit a task (5 types here; salt
    or pre-aggregate for mega-groups — same caveat as every
    grouped-map)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def center(table: pa.Table) -> pa.Table:
        n = table.num_rows
        x = table.column("v_micro")
        s = pc.sum(x).as_py() or 0
        dev = pc.subtract(pc.multiply(x, pa.scalar(n, pa.int64())), pa.scalar(s, pa.int64()))
        return pa.table(
            {
                "event_type": table.column("event_type"),
                "event_id": table.column("event_id"),
                "dev_num": dev,
                "n": pa.array([n] * n, pa.int64()),
            }
        )

    ev = t(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.round(F.col("value") * 1e6).cast("long").alias("v_micro"),
    )
    return (
        ev.groupBy("event_type")
        .applyInArrow(
            center, "event_type string, event_id long, dev_num long, n long"
        )
        .orderBy("event_type", "event_id")
    )


@query(
    "q264_iter_pandas_udf",
    # The "model" is integer weights, scoring is value-micros x weight
    # (int64-exact), so amortized-init inference is cross-engine
    # reproducible — a float model would make the oracle flap.
    oracle="""
    SELECT event_type, CAST(SUM(CAST(round(value * 1e6) AS BIGINT)
             * CASE event_type WHEN 'click' THEN 1 WHEN 'view' THEN 2
                WHEN 'purchase' THEN 5 WHEN 'signup' THEN 7
                ELSE 0 END) AS BIGINT) AS score_sum,
           count(*) AS n
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    section="B10-udfs",
)
def q264(spark, sf_dir):
    """Iterator-of-batches pandas UDF (``Iterator[Tuple[pd.Series,...]]
    -> Iterator[pd.Series]``, Spark 3.0+) — the EXPENSIVE-INIT
    amortization pattern and the reason this variant exists beside
    q101's one-batch-at-a-time form: state built before the loop (a
    model deserialized, a tokenizer loaded, an ONNX session opened) is
    paid ONCE PER PYTHON WORKER and reused across every Arrow batch of
    the partition. For LLM-corpus scoring (quality classifiers,
    familiarity models over 10^9 docs) this is the difference between
    one model load per ~10k-row batch and one per executor core.

    Here the "model" is a dict of integer weights materialized before
    the loop; each batch scores value-micros x weight(type) in int64
    (exact — the per-group sums cannot drift on batch boundaries or
    partitioning). The plan stays a single ArrowEvalPython pass feeding
    a codegen'd partial agg; nothing is collected."""
    @pandas_udf("long")
    def score(batches: Iterator[Tuple[pd.Series, pd.Series]]) -> Iterator[pd.Series]:
        # expensive init happens HERE, once per worker, not per batch
        weights = {"click": 1, "view": 2, "purchase": 5, "signup": 7}
        for etype, vmicro in batches:
            yield vmicro * etype.map(lambda s: weights.get(s, 0))

    ev = t(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 1e6).cast("long").alias("v_micro"),
    )
    return (
        ev.select("event_type", score("event_type", "v_micro").alias("s"))
        .groupBy("event_type")
        .agg(F.sum("s").cast("long").alias("score_sum"), F.count("*").alias("n"))
        # bounded result (one row per event type)
        .transform(ordered_small, "event_type")
    )


@query(
    "q275_pandas_api_on_spark",
    oracle="""
    SELECT c_mktsegment, count(*) AS n, max(o_totalprice) AS max_price
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
    section="B10-udfs",
)
def q275(spark, sf_dir):
    """PANDAS API ON SPARK (``pyspark.pandas``) — the third Python
    surface beside the DataFrame API and SQL: the same merge/groupby/
    agg a data scientist writes against local pandas, compiled to the
    identical Catalyst plan (broadcast-able join, partial+final agg)
    and verified against the plain-SQL oracle. The point of the entry
    is API parity with ZERO per-row Python: unlike the UDF family
    above, nothing here crosses into a Python worker — pandas-on-Spark
    is a front-end that lowers to JVM expressions, so the 10-100x
    Arrow-vs-row-UDF hierarchy (q100 vs q199) doesn't apply at all.

    The one scale trap is the DEFAULT INDEX: pandas semantics require
    an index, and the default ``sequence`` type materializes a global
    row number via a single-partition window — an Exchange
    SinglePartition on the whole frame before any user work. The entry
    pins ``compute.default_index_type = distributed`` (monotonic
    per-partition ids, no shuffle, no ordering promise) — the only
    index type that survives 100 TB; aggregates are count/max so the
    result is float-exact cross-engine."""
    import pyspark.pandas as ps

    # ps.option_context restores by explicitly SETTING the previous
    # value, which pins the library default as a session conf after
    # this entry returns (a restore-to-default leak the per-entry conf
    # check in tests/conftest.py fails). Remember whether it was set
    # and unset afterwards — the plan is already built by then. Not
    # scoped_conf: the option has its own API and value encoding.
    _IDX_CONF = "pandas_on_Spark.compute.default_index_type"
    was_set = spark.conf.get(_IDX_CONF, None)
    try:
        with ps.option_context("compute.default_index_type", "distributed"):
            po = t(spark, sf_dir, "orders").pandas_api()
            pc = t(spark, sf_dir, "customer").pandas_api()
            m = po.merge(pc, left_on="o_custkey", right_on="c_custkey")
            g = m.groupby("c_mktsegment", as_index=False).agg(
                n=("o_orderkey", "count"), max_price=("o_totalprice", "max")
            )
            return g.to_spark().orderBy("c_mktsegment")
    finally:
        if was_set is None:
            spark.conf.unset(_IDX_CONF)
