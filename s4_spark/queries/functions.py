"""B8 — scalar function library (SURVEY.md §2-B8, Q080-Q087).

One representative battery per family; the engine exposes the whole
Spark-native family (JVM-side, whole-stage-codegen'd — no Python in the
hot path). Each battery pins down cross-engine semantics against DuckDB:
math results are rounded to 6 dp (JVM vs libm can differ by 1 ulp),
date formats use each engine's own tokens for the same rendering.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from s4_spark.queries.helpers import dsum, ordered_small, t
from s4_spark.queries.registry import query
from s4_spark.session import scoped_conf


@query(
    "q080_string_functions",
    oracle="""
    SELECT p_partkey,
           concat_ws('|', p_brand, p_type) AS joined,
           upper(substring(p_name, 1, 8)) AS up8,
           lower(p_type) AS lo,
           trim(p_name) AS trimmed,
           lpad(CAST(p_size AS VARCHAR), 4, '0') AS padded,
           regexp_extract(p_name, '([a-z]+)', 1) AS first_word,
           regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled,
           levenshtein(p_brand, 'Brand#1') AS lev,
           length(p_name) AS nlen,
           strpos(p_name, 'a') AS pos_a,
           split_part(p_name, ' ', 1) AS tok1
    FROM part ORDER BY p_partkey LIMIT 300
    """,
    section="B8-functions",
)
def q080(spark, sf_dir):
    """String battery over part.p_name (Spark rlike/instr == DuckDB
    regexp/strpos; regexp_replace is global in Spark, 'g' flag in DuckDB)."""
    p = t(spark, sf_dir, "part")
    return (
        p.select(
            "p_partkey",
            F.concat_ws("|", "p_brand", "p_type").alias("joined"),
            F.upper(F.substring("p_name", 1, 8)).alias("up8"),
            F.lower("p_type").alias("lo"),
            F.trim("p_name").alias("trimmed"),
            F.lpad(F.col("p_size").cast("string"), 4, "0").alias("padded"),
            F.regexp_extract("p_name", "([a-z]+)", 1).alias("first_word"),
            F.regexp_replace("p_name", "[aeiou]", "_").alias("devoweled"),
            F.levenshtein("p_brand", F.lit("Brand#1")).alias("lev"),
            F.length("p_name").alias("nlen"),
            F.instr("p_name", "a").alias("pos_a"),
            F.split_part("p_name", F.lit(" "), F.lit(1)).alias("tok1"),
        )
        .orderBy("p_partkey")
        .limit(300)
    )


@query(
    "q081_datetime_functions",
    oracle="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INT) AS y,
           CAST(month(o_orderdate) AS INT) AS m,
           CAST(day(o_orderdate) AS INT) AS d,
           CAST(dayofweek(o_orderdate) AS INT) AS dow,
           date_trunc('month', o_orderdate) AS month_start,
           o_orderdate + INTERVAL 30 DAY AS plus30,
           CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s,
           strftime(o_orderdate, '%Y-%m-%d') AS iso_day,
           CAST(date_diff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate) AS INT)
             AS days_since
    FROM orders ORDER BY o_orderkey LIMIT 300
    """,
    section="B8-functions",
)
def q081(spark, sf_dir):
    """Date/time battery over o_orderdate.

    Token mapping: Spark `date_format('yyyy-MM-dd')` == DuckDB
    `strftime('%Y-%m-%d')`; Spark dayofweek is 1=Sunday, DuckDB
    dayofweek is 0=Sunday (adjusted with +1 on the oracle side via ISO:
    DuckDB's dayofweek returns 0-6 Sun-Sat, so Spark's value equals
    DuckDB's + 1)."""
    o = t(spark, sf_dir, "orders")
    return (
        o.select(
            "o_orderkey",
            F.year("o_orderdate").alias("y"),
            F.month("o_orderdate").alias("m"),
            F.dayofmonth("o_orderdate").alias("d"),
            (F.dayofweek("o_orderdate") - 1).alias("dow"),
            F.date_trunc("month", "o_orderdate").alias("month_start"),
            (F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")).alias("plus30"),
            # pure date arithmetic — unix_timestamp(date) is midnight in
            # the SESSION timezone, diverging from DuckDB's epoch() (UTC
            # midnight) on any non-UTC session
            (F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date"))
             .cast("long") * 86400).alias("epoch_s"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("iso_day"),
            F.datediff(
                F.col("o_orderdate"), F.lit("1995-01-01").cast("date")
            ).alias("days_since"),
        )
        .orderBy("o_orderkey")
        .limit(300)
    )


@query(
    "q082_math_functions",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           round(l_extendedprice, 1) AS r1,
           floor(l_extendedprice) AS flr,
           ceil(l_extendedprice) AS cl,
           abs(l_discount - 0.05) AS ad,
           round(sqrt(l_extendedprice), 6) AS sq,
           round(exp(l_discount), 6) AS ex,
           round(ln(l_extendedprice + 1), 6) AS lg,
           round(log10(l_extendedprice + 1), 6) AS l10,
           round(pow(l_quantity, 2), 6) AS p2,
           CAST(sign(l_discount - 0.05) AS DOUBLE) AS sg,
           CAST(l_orderkey % 7 AS BIGINT) AS pm
    FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 500
    """,
    section="B8-functions",
)
def q082(spark, sf_dir):
    """Math battery (6-dp rounding absorbs JVM-vs-libm 1-ulp diffs)."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.select(
            "l_orderkey",
            "l_linenumber",
            F.round("l_extendedprice", 1).alias("r1"),
            F.floor("l_extendedprice").cast("double").alias("flr"),
            F.ceil("l_extendedprice").cast("double").alias("cl"),
            F.abs(F.col("l_discount") - 0.05).alias("ad"),
            F.round(F.sqrt("l_extendedprice"), 6).alias("sq"),
            F.round(F.exp("l_discount"), 6).alias("ex"),
            F.round(F.log(F.col("l_extendedprice") + 1), 6).alias("lg"),
            F.round(F.log10(F.col("l_extendedprice") + 1), 6).alias("l10"),
            F.round(F.pow("l_quantity", F.lit(2)), 6).alias("p2"),
            F.signum(F.col("l_discount") - 0.05).alias("sg"),
            (F.col("l_orderkey") % 7).alias("pm"),
        )
        .orderBy("l_orderkey", "l_linenumber")
        .limit(500)
    )


@query(
    "q083_array_functions",
    oracle="""
    SELECT vec_id,
           len(embedding) AS dim,
           round(CAST(embedding[1] AS DOUBLE), 6) AS e0,
           round(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 6) AS sumsq,
           round(sqrt(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS l2,
           round(list_sum(list_transform(list_slice(embedding, 1, 8),
                 x -> CAST(x AS DOUBLE))), 6) AS head_sum,
           len(list_filter(embedding, x -> x > 0)) AS n_pos
    FROM embeddings ORDER BY vec_id LIMIT 300
    """,
    section="B8-functions",
)
def q083(spark, sf_dir):
    """Higher-order array battery over embeddings (transform / filter /
    aggregate / slice) — all JVM-side lambda expressions, no UDFs."""
    e = t(spark, sf_dir, "embeddings")
    sq = F.aggregate(
        F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return (
        e.select(
            "vec_id",
            F.size("embedding").alias("dim"),
            F.round(F.col("embedding")[0].cast("double"), 6).alias("e0"),
            F.round(sq, 6).alias("sumsq"),
            F.round(F.sqrt(sq), 6).alias("l2"),
            F.round(
                F.aggregate(
                    F.transform(
                        F.slice("embedding", 1, 8), lambda x: x.cast("double")
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                ),
                6,
            ).alias("head_sum"),
            F.size(F.filter("embedding", lambda x: x > 0)).alias("n_pos"),
        )
        .orderBy("vec_id")
        .limit(300)
    )


@query(
    "q084_map_functions",
    oracle="""
    SELECT CAST(user_id % 5 AS BIGINT) AS bucket, event_type AS k,
           count(*) AS v
    FROM events GROUP BY bucket, k ORDER BY bucket, k
    """,
    section="B8-functions",
)
def q084(spark, sf_dir):
    """Map battery: build map<event_type,count> per bucket with
    map_from_entries, then explode back to rows (round-trips the map
    type through construction, keys/values access, and explosion)."""
    ev = t(spark, sf_dir, "events")
    per = (
        ev.groupBy((F.col("user_id") % 5).alias("bucket"), F.col("event_type"))
        .agg(F.count("*").alias("cnt"))
        .groupBy("bucket")
        .agg(
            F.map_from_entries(
                F.sort_array(F.collect_list(F.struct("event_type", "cnt")))
            ).alias("m")
        )
    )
    exploded = per.select("bucket", F.explode("m").alias("k", "v"))
    return exploded.orderBy("bucket", "k")


@query(
    "q085_json_functions",
    oracle="""
    SELECT CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT)
             AS sum_k,
           count(json_extract_string(props, '$.k')) AS n_with_k
    FROM events
    """,
    section="B8-functions",
)
def q085(spark, sf_dir):
    """JSON battery: get_json_object / from_json over events.props
    (S4 parity note: the reference validates-but-never-inspects JSON
    fields, /root/reference/river/jsonr.go:106-109 — here we extract)."""
    ev = t(spark, sf_dir, "events")
    k_str = F.get_json_object("props", "$.k")
    parsed = F.from_json("props", "k int")
    return ev.agg(
        F.sum(k_str.cast("int")).cast("long").alias("sum_k"),
        F.count(parsed["k"]).alias("n_with_k"),
    )


@query(
    "q086_cast_conversions",
    oracle="""
    SELECT l_orderkey,
           CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS DOUBLE) AS dec2,
           CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS VARCHAR) AS dec_str,
           CAST(l_quantity AS INT) AS qty_int,
           CAST(l_quantity AS VARCHAR) AS qty_str,
           CAST(CAST(l_orderkey AS VARCHAR) AS BIGINT) AS rt_key,
           CAST(l_shipdate AS DATE) AS ship_day
    FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 300
    """,
    section="B8-functions",
)
def q086(spark, sf_dir):
    """Cast battery across int/double/decimal/string/date."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.select(
            "l_orderkey",
            "l_linenumber",
            F.col("l_extendedprice").cast("decimal(12,2)").cast("double").alias("dec2"),
            F.col("l_extendedprice").cast("decimal(12,2)").cast("string").alias("dec_str"),
            F.col("l_quantity").cast("int").alias("qty_int"),
            F.col("l_quantity").cast("string").alias("qty_str"),
            F.col("l_orderkey").cast("string").cast("long").alias("rt_key"),
            F.col("l_shipdate").cast("date").alias("ship_day"),
        )
        .orderBy("l_orderkey", "l_linenumber")
        .limit(300)
        .drop("l_linenumber")
    )


@query(
    "q087_hash_functions",
    oracle="""
    SELECT p_partkey,
           sha256(p_name) AS sha,
           md5(p_name) AS m5
    FROM part ORDER BY p_partkey LIMIT 300
    """,
    section="B8-functions",
)
def q087(spark, sf_dir):
    """Hash battery: sha2/md5 are cross-engine standards; xxhash64 and
    monotonically_increasing_id are engine-specific (smoke-checked in
    tests, not oracled)."""
    p = t(spark, sf_dir, "part")
    return (
        p.select(
            "p_partkey",
            F.sha2("p_name", 256).alias("sha"),
            F.md5("p_name").alias("m5"),
        )
        .orderBy("p_partkey")
        .limit(300)
    )


@query(
    "q109_variant_json",
    oracle="""
    SELECT event_type,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT)
             AS sum_k,
           count(*) AS n
    FROM events
    WHERE props IS NOT NULL AND props <> ''
    GROUP BY event_type ORDER BY event_type
    """,
    section="B8-functions",
)
def q109(spark, sf_dir):
    """VARIANT semi-structured type (Spark 4): props parsed once into a
    binary variant, fields typed-extracted with variant_get. At scale
    this is the schema-on-read answer for the reference's opaque JSON
    records (river/jsonr.go:106-109 validated but never inspected them):
    shredded variant columns scan ~an order of magnitude faster than
    re-parsing JSON strings per query."""
    ev = t(spark, sf_dir, "events").filter(
        F.col("props").isNotNull() & (F.col("props") != "")
    )
    v = ev.withColumn("v", F.parse_json("props"))
    return (
        v.groupBy("event_type")
        .agg(
            F.sum(F.expr("variant_get(v, '$.k', 'int')"))
            .cast("long")
            .alias("sum_k"),
            F.count("*").alias("n"),
        )
        # bounded result (one row per event type)
        .transform(ordered_small, "event_type")
    )


@query(
    "q158_pii_tokenization",
    oracle="""
    WITH c AS (SELECT sha256('cust:' || c_custkey) AS c_tok, c_nationkey
               FROM customer),
    o AS (SELECT sha256('cust:' || o_custkey) AS o_tok, o_totalprice
          FROM orders)
    SELECT c.c_nationkey AS nationkey, count(*) AS n_orders,
           count(DISTINCT c.c_tok) AS n_customers
    FROM o JOIN c ON o.o_tok = c.c_tok
    GROUP BY c.c_nationkey ORDER BY c.c_nationkey
    """,
    section="B8-functions",
)
def q158(spark, sf_dir):
    """Deterministic PII tokenization: natural keys replaced by salted
    sha256 surrogate tokens consistently ACROSS tables, so joins and
    distinct-counts still work on the masked data but the raw key never
    leaves the trusted zone. The check joins orders to customer entirely
    on tokens and reproduces the per-nation order counts — proof the
    tokenization is referentially consistent.

    Scale shape: tokenization is a narrow projection fused into each
    scan (no shuffle, no lookup table to secure); at 100 TB the salt
    lives in cluster config, never in data. Same-token joins shuffle
    32-byte keys instead of longs — the only cost of masking."""
    c = t(spark, sf_dir, "customer").select(
        F.sha2(F.concat(F.lit("cust:"), F.col("c_custkey")), 256).alias("c_tok"),
        "c_nationkey",
    )
    o = t(spark, sf_dir, "orders").select(
        F.sha2(F.concat(F.lit("cust:"), F.col("o_custkey")), 256).alias("o_tok"),
        "o_totalprice",
    )
    return (
        o.join(c, o.o_tok == c.c_tok)
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(
            F.count("*").alias("n_orders"),
            F.countDistinct("c_tok").alias("n_customers"),
        )
        # bounded result (one row per nation)
        .transform(ordered_small, "nationkey")
    )


@query(
    "q159_data_quality_audit",
    oracle="""
    SELECT 'fk_orders_customer' AS check_name,
           (SELECT count(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey)) AS n_violations
    UNION ALL
    SELECT 'lineitem_qty_range',
           (SELECT count(*) FROM lineitem
            WHERE l_quantity < 0 OR l_quantity > 50 OR l_quantity IS NULL)
    UNION ALL
    SELECT 'orders_pk_unique',
           (SELECT CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT)
            FROM orders)
    UNION ALL
    SELECT 'events_ts_not_null',
           (SELECT count(*) FROM events WHERE ts IS NULL)
    ORDER BY check_name
    """,
    section="B8-functions",
)
def q159(spark, sf_dir):
    """Data-quality audit: declarative expectations evaluated as plain
    relational queries — referential integrity (orders→customer, a
    left-anti count), domain range (l_quantity in [0, 50]), primary-key
    uniqueness (count vs distinct), and not-null. One row per check with
    its violation count; a pipeline gates promotion on all-zeros.

    Each check is independently Catalyst-optimized (the FK check is a
    broadcast anti-join here, shuffle anti-join at scale); checks share
    scans per table when fused into one pass — at 100 TB the count/
    distinct/null checks over a table compile into a single aggregate."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    li = t(spark, sf_dir, "lineitem")
    ev = t(spark, sf_dir, "events")
    fk = o.join(
        c, o.o_custkey == c.c_custkey, "left_anti"
    ).agg(F.count("*").alias("n_violations")).select(
        F.lit("fk_orders_customer").alias("check_name"), "n_violations"
    )
    rng = li.filter(
        (F.col("l_quantity") < 0)
        | (F.col("l_quantity") > 50)
        | F.col("l_quantity").isNull()
    ).agg(F.count("*").alias("n_violations")).select(
        F.lit("lineitem_qty_range").alias("check_name"), "n_violations"
    )
    pk = o.agg(
        (F.count("*") - F.countDistinct("o_orderkey")).alias("n_violations")
    ).select(F.lit("orders_pk_unique").alias("check_name"), "n_violations")
    nn = ev.filter(F.col("ts").isNull()).agg(
        F.count("*").alias("n_violations")
    ).select(F.lit("events_ts_not_null").alias("check_name"), "n_violations")
    # bounded result (one row per declared check)
    return ordered_small(
        fk.unionByName(rng).unionByName(pk).unionByName(nn), "check_name"
    )


@query(
    "q244_sql_scripting",
    oracle="""
    WITH RECURSIVE it AS (
      SELECT CAST(1000.0 AS DOUBLE) AS thr,
             (SELECT count(*) FROM orders
              WHERE o_totalprice > 1000.0) AS n
      UNION ALL
      SELECT it.thr * 2,
             (SELECT count(*) FROM orders
              WHERE o_totalprice > it.thr * 2)
      FROM it WHERE it.n >= 10)
    SELECT thr AS final_threshold, n AS n_above
    FROM it ORDER BY thr DESC LIMIT 1
    """,
    section="B8-functions",
)
def q244(spark, sf_dir):
    """SQL SCRIPTING (Spark 4 BEGIN…END compound statements): an
    iterative fixed-point that single-statement SQL cannot express
    without a recursive rewrite — double a price threshold until fewer
    than 10 orders exceed it, returning the final threshold and count.
    DECLARE/SET variables and a WHILE loop run entirely in the SQL
    surface (no driver-side Python loop); the oracle is the recursive
    -CTE spelling of the same fixed-point, so the hash match proves
    loop semantics, not just the final SELECT.

    Determinism: thresholds are 1000·2^k — exact in binary floating
    point — so the > comparisons cannot disagree across engines. Each
    loop iteration is one codegen'd aggregate over the orders scan
    (count with a pushed predicate); iteration count is
    O(log(max_price)), a driver-side latency cost only, with no
    per-iteration shuffle."""
    t(spark, sf_dir, "orders").createOrReplaceTempView("q244_orders")
    return spark.sql(
        """
        BEGIN
          DECLARE thr DOUBLE DEFAULT 1000.0;
          DECLARE n BIGINT DEFAULT 0;
          SET n = (SELECT count(*) FROM q244_orders WHERE o_totalprice > thr);
          WHILE n >= 10 DO
            SET thr = thr * 2;
            SET n = (SELECT count(*) FROM q244_orders WHERE o_totalprice > thr);
          END WHILE;
          SELECT thr AS final_threshold, n AS n_above;
        END
        """
    )


@query(
    "q249_try_functions",
    oracle="""
    SELECT o_orderkey,
           o_totalprice / NULLIF(o_orderkey % 3, 0) AS safe_div,
           TRY_CAST(o_orderpriority AS INTEGER) AS bad_cast,
           TRY_CAST(substr(o_orderpriority, 1, 1) AS INTEGER) AS good_cast,
           CASE WHEN o_orderkey > 0 THEN NULL
                ELSE 9223372036854775807 + o_orderkey END AS overflow_add
    FROM orders ORDER BY o_orderkey LIMIT 200
    """,
    section="B8-functions",
)
def q249(spark, sf_dir):
    """ANSI-safe arithmetic battery (`try_*`, Spark 3.5/4): with ANSI
    mode ON (this engine's default — division by zero, bad casts and
    bigint overflow all THROW at runtime), the try_ family is the
    production-safe spelling that degrades to NULL instead of killing
    a 1000-executor job on one degenerate row: try_divide (zero
    denominators every 3rd row), try_cast (non-numeric and numeric
    prefixes of the same column), try_add (bigint overflow). The
    oracle spells the same semantics in DuckDB (NULLIF guard,
    TRY_CAST, a CASE for the always-overflowing add). Complements
    q082's plain math battery: same expressions, the failure-path
    contract.

    Scale shape (round-12): the top-200 is taken BEFORE the try_*
    projection. The ordering key (o_orderkey) needs none of the
    computed columns, but projecting first evaluated the battery on
    every input row inside TakeOrderedAndProject — and try_* failure
    paths are exception-backed (~9 µs/row measured), so the ×10 probe
    paid 13.4 s to compute 1.5M try_casts and keep 200. Narrow
    TakeOrdered first, battery on 200 rows after: 0.2 s at ×10,
    identical rows. At 100 TB that is the difference between a
    metadata-cheap top-k and a full-corpus exception storm."""
    o = t(spark, sf_dir, "orders")
    top = (
        o.select("o_orderkey", "o_totalprice", "o_orderpriority")
        .orderBy("o_orderkey")
        .limit(200)
    )
    return (
        top.select(
            "o_orderkey",
            F.try_divide(
                F.col("o_totalprice"), (F.col("o_orderkey") % 3).cast("double")
            ).alias("safe_div"),
            F.col("o_orderpriority").try_cast("int").alias("bad_cast"),
            F.substring("o_orderpriority", 1, 1).try_cast("int").alias(
                "good_cast"
            ),
            F.try_add(
                F.lit(9223372036854775807), F.col("o_orderkey")
            ).alias("overflow_add"),
        )
        .orderBy("o_orderkey")
    )


@query(
    "q250_collated_strings",
    oracle="""
    SELECT lower(noisy) AS p_type_ci, count(*) AS n,
           min(noisy) AS first_variant
    FROM (
      SELECT CASE WHEN p_partkey % 2 = 0 THEN upper(p_type)
                  ELSE lower(p_type) END AS noisy
      FROM part)
    GROUP BY lower(noisy) ORDER BY p_type_ci
    """,
    section="B8-functions",
)
def q250(spark, sf_dir):
    """String COLLATIONS (Spark 4): grouping and ordering under
    UTF8_LCASE without rewriting expressions to lower() — the collation
    travels with the type, so every comparison the column touches
    (GROUP BY, ORDER BY, joins, = predicates) becomes case-insensitive
    at the Catalyst level. The feed deliberately case-mangles p_type by
    key parity; collated grouping must fuse the variants exactly as
    the oracle's lower()-keyed grouping does (a deterministic lower()
    key and min() representative are projected because the collated
    group's representative value is engine-chosen). min() under
    UTF8_LCASE compares case-insensitively, so it is evaluated on the
    BINARY-collated copy to stay deterministic."""
    p = t(spark, sf_dir, "part")
    noisy = p.select(
        F.when(F.col("p_partkey") % 2 == 0, F.upper("p_type"))
        .otherwise(F.lower("p_type"))
        .alias("noisy")
    )
    collated = noisy.select(
        F.collate("noisy", "UTF8_LCASE").alias("noisy_ci"),
        F.col("noisy").alias("noisy_bin"),
    )
    return (
        collated.groupBy("noisy_ci")
        .agg(F.count("*").alias("n"), F.min("noisy_bin").alias("first_variant"))
        .select(
            F.lower(F.col("noisy_ci").cast("string")).alias("p_type_ci"),
            "n",
            "first_variant",
        )
        # bounded result (one row per part type)
        .transform(ordered_small, "p_type_ci")
    )


@query(
    "q265_parameterized_sql",
    oracle="""
    SELECT o_orderstatus, count(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS total
    FROM orders
    WHERE o_orderpriority = '2-HIGH' AND o_totalprice > 1000
    GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    section="B8-functions",
)
def q265(spark, sf_dir):
    """Parameterized SQL (``spark.sql(query, args=...)``, Spark 3.4/3.5)
    — named ``:param`` markers bound as LITERALS by the parser, plus the
    ``IDENTIFIER(:name)`` clause binding a TABLE NAME from a parameter
    without string concatenation. This is the injection-safe templating
    surface a query service needs: values can't smuggle SQL, and
    identifiers go through one validated escape hatch instead of
    f-strings. Parameters bind before analysis, so Catalyst sees plain
    literals — pushdown/pruning behave exactly as in the literal
    spelling (same plan, oracle-identical result).

    The priority value and price floor arrive as Python values; the
    table name arrives via IDENTIFIER so the same statement serves any
    registered snapshot of the orders table."""
    from s4_spark.catalog import register_views

    register_views(spark, sf_dir, tables=("orders",))
    return spark.sql(
        """
        SELECT o_orderstatus, count(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS total
        FROM IDENTIFIER(:tbl)
        WHERE o_orderpriority = :prio AND o_totalprice > :floor
        GROUP BY o_orderstatus ORDER BY o_orderstatus
        """,
        args={"tbl": "orders", "prio": "2-HIGH", "floor": 1000},
    )


@query(
    "q267_convert_timezone",
    # Only the UTC -> local direction is exercised: it is TOTAL (every
    # UTC instant has exactly one local wall time), so no
    # nonexistent/ambiguous-time policy can differ between engines.
    # The shifted feed spans the 2024-03-10 US DST jump, so both
    # offsets (-300/-240 min) MUST appear for the hash to match.
    oracle="""
    WITH shifted AS (
      SELECT ts + INTERVAL 2 MONTH AS wall_utc FROM events),
    conv AS (
      SELECT wall_utc,
             timezone('America/New_York',
                      timezone('UTC', wall_utc))::TIMESTAMP AS wall_ny
      FROM shifted)
    SELECT CAST(wall_utc AS DATE) AS utc_day,
           CAST((CAST(wall_ny AS DATE) - CAST(wall_utc AS DATE)) * 1440
                + (hour(wall_ny) - hour(wall_utc)) * 60
                + (minute(wall_ny) - minute(wall_utc)) AS BIGINT)
             AS offset_min,
           count(*) AS n
    FROM conv GROUP BY utc_day, offset_min ORDER BY utc_day, offset_min
    """,
    section="B8-functions",
)
def q267(spark, sf_dir):
    """DST-correct timezone conversion (``convert_timezone``, Spark
    3.5+): the events feed shifted into March 2024 crosses the US
    spring-forward boundary, and every UTC wall clock is converted to
    America/New_York — days before 2024-03-10 must come out at -300
    minutes (EST), days after at -240 (EDT), and the jump day carries
    both. Getting this wrong (fixed-offset arithmetic, the classic
    bug) collapses the histogram to one offset; the oracle counts
    per-(day, offset) so the hash fails loudly.

    Deliberately only UTC->local: that direction is total, while
    local->UTC must choose a policy for the nonexistent 02:00-03:00
    wall times and engines may legitimately differ — an oracle there
    would pin one engine's policy, not a semantic. Offsets are
    computed by pure FIELD arithmetic (day-diff*1440 + hour/minute
    deltas) because timestampdiff on NTZ inputs routes through the
    SESSION zone: a wall time that is nonexistent in the session's own
    zone (Chicago's 02:00-03:00 on the same jump day) silently shifts
    an hour — found by the vanilla-Chicago check, invisible on UTC
    sessions. All codegen'd builtins, one partial+final agg."""
    ev = t(spark, sf_dir, "events").select(
        (F.col("ts") + F.expr("INTERVAL 2 MONTHS")).alias("wall_utc")
    )
    conv = ev.select(
        "wall_utc",
        F.convert_timezone(
            F.lit("UTC"), F.lit("America/New_York"), F.col("wall_utc")
        ).alias("wall_ny"),
    )
    return (
        conv.select(
            F.col("wall_utc").cast("date").alias("utc_day"),
            (
                F.datediff(
                    F.col("wall_ny").cast("date"), F.col("wall_utc").cast("date")
                )
                * 1440
                + (F.hour("wall_ny") - F.hour("wall_utc")) * 60
                + (F.minute("wall_ny") - F.minute("wall_utc"))
            ).cast("long").alias("offset_min"),
        )
        .groupBy("utc_day", "offset_min")
        .agg(F.count("*").alias("n"))
        # bounded result (calendar days x offsets)
        .transform(ordered_small, "utc_day", "offset_min")
    )


_Q276_SQL = """
WITH g AS (
  SELECT o_orderpriority AS pri, o_orderstatus AS st, count(*) AS n
  FROM orders GROUP BY ALL)
SELECT pri, st, n, n % 97 AS n_mod, n_mod * 2 AS n_mod2
FROM g ORDER BY ALL LIMIT 8 OFFSET 3
"""


@query(
    "q276_sql_ergonomics",
    oracle=_Q276_SQL,
    section="B8-functions",
)
def q276(spark, sf_dir):
    """Modern SQL-surface ergonomics in ONE statement that runs
    verbatim on both engines (the oracle IS the query text): GROUP BY
    ALL (grouping keys inferred from the non-aggregate select list —
    the spelling that kills the copy-the-columns-twice bug class),
    LATERAL COLUMN ALIASES chained two deep (``n_mod`` reuses the
    aggregate alias ``n`` in the same select list, ``n_mod2`` reuses
    ``n_mod`` — pre-3.4 each step forced another subquery layer),
    ORDER BY ALL (total order over the whole select list, which makes
    LIMIT/OFFSET deterministic by construction), and OFFSET paging.

    None of this changes the physical plan — that is the point: these
    are ANALYZER features, sugar that resolves to exactly q030's
    partial+final aggregate before optimization, so they're free at
    any scale. The entry exists because this is the dialect users
    actually write in 2026 (DuckDB pioneered GROUP BY/ORDER BY ALL;
    Spark 3.4/4.0 adopted them) and an engine claiming drop-in parity
    must parse and resolve it identically — byte-identical SQL on
    Spark and DuckDB, hash-identical results."""
    from s4_spark.catalog import register_views

    register_views(spark, sf_dir, tables=("orders",))
    return spark.sql(_Q276_SQL)


_Q277_SPARK_SQL = """
WITH RECURSIVE walk(start_key, k, depth) AS (
  SELECT c_custkey, c_custkey, 0 FROM customer
  UNION ALL
  SELECT start_key, k DIV 2, depth + 1 FROM walk WHERE k > 1
)
SELECT depth, count(*) AS n, CAST(sum(k) AS BIGINT) AS key_sum,
       count(DISTINCT start_key) AS reached
FROM walk GROUP BY depth ORDER BY depth
"""


@query(
    "q277_recursive_cte",
    oracle=_Q277_SPARK_SQL.replace("k DIV 2", "k // 2"),
    section="B8-functions",
)
def q277(spark, sf_dir):
    """RECURSIVE CTE (``WITH RECURSIVE``, Spark 4.0+) — set-based
    iteration inside ONE declarative query: each customer key walks a
    deterministic binary-halving ancestor chain (parent(k) = k DIV 2)
    to the root, and the result aggregates the full transitive closure
    per generation. This is the hierarchy/graph primitive (BOM
    explosion, org rollup, referral chains, path-to-root flattening)
    that previously forced a driver-side loop of joins; q244's SQL
    scripting is PROCEDURAL iteration between statements — q277 is the
    complementary mechanism, a fixpoint the ENGINE schedules within
    the plan (UnionLoop: seed step, then one distributed job per
    frontier until the recursive leg produces zero rows). q048 uses
    the same syntax as a 12-row constant SERIES GENERATOR (scalar
    recursion, data joined in afterwards); q277 is the other regime —
    the recursive leg ranges over a DISTRIBUTED table-derived
    frontier, so each iteration is a cluster job and the closure is
    |customer| x depth rows, the shape where the engine-scheduled
    fixpoint actually earns its keep.

    Scale shape: every iteration is an ordinary shuffle-free
    projection+filter over the previous frontier (no driver collect;
    the frontier is a distributed dataset throughout), the final
    aggregate is one partial+final hash agg over the unioned closure,
    and depth is bounded by log2(max key) — 25 steps at 10^7.5
    customers. Guardrails that matter in production (cycle bombs,
    runaway recursion) exist as the engine's recursion row/depth
    limits rather than app code — and the closure here LEGITIMATELY
    outgrows the engine's default ``cteRecursionRowLimit`` of 1M
    (|customer| x bit_length(max key): ~3M rows at a 10x-scaled
    sf0.1, found by the round-7 scale probe). The entry therefore
    declares its own provable bound — count(customer) x
    (bit_length(max key) + 1), one aggregate-pushdown job — sets the
    limit to exactly that, scoped to ONE eager materialization (the
    runaway guardrail stays meaningful instead of being cranked to
    infinity).
    The plan pin (UnionLoop + hash agg) runs on the un-materialized
    builder ``_q277_frame``. The oracle is the byte-identical
    statement modulo integer-division spelling (Spark ``DIV`` vs
    DuckDB ``//``), run natively recursive on both engines."""
    n, mx = (
        t(spark, sf_dir, "customer").agg(F.count("*"), F.max("c_custkey")).first()
    )
    bound = int(n) * (int(mx).bit_length() + 1)
    limit = {"spark.sql.cteRecursionRowLimit": str(max(bound, 1_000_000))}
    with scoped_conf(spark, limit):
        return _q277_frame(spark, sf_dir).localCheckpoint(eager=True)


def _q277_frame(spark, sf_dir):
    """The un-materialized recursive-CTE frame (plan pinned in
    tests/test_plans.py::test_q277_recursive_cte_union_loop)."""
    from s4_spark.catalog import register_views

    register_views(spark, sf_dir, tables=("customer",))
    return spark.sql(_Q277_SPARK_SQL)


@query(
    "q278_sql_udf",
    oracle="""
    WITH pr AS (
      SELECT l_returnflag, l_linestatus,
             l_extendedprice * (1 - l_discount) AS net,
             (l_extendedprice * (1 - l_discount)) * (1 + l_tax) AS taxed
      FROM lineitem WHERE l_shipdate >= TIMESTAMP '1995-01-01')
    SELECT l_returnflag, l_linestatus, count(*) AS n,
           CAST(SUM(CAST(net AS DECIMAL(30,6))) AS DOUBLE) AS net_sum,
           CAST(SUM(CAST(taxed AS DECIMAL(30,6))) AS DOUBLE) AS taxed_sum
    FROM pr GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    section="B8-functions",
)
def q278(spark, sf_dir):
    """SQL UDFs (``CREATE FUNCTION ... RETURN <expr>``, Spark 4.0+) —
    reusable business logic that lives in the CATALOG, not in every
    query: a scalar ``net_rev`` and a second scalar ``taxed_rev``
    defined ON TOP of it (UDF composition), both used inside an
    aggregate. The decisive property vs the whole B10 Python-UDF
    family: a SQL UDF is INLINED as an expression tree at analysis
    time — after resolution the plan is indistinguishable from writing
    the formula by hand, so whole-stage codegen, filter pushdown,
    partial aggregation and every Catalyst rewrite apply; no Python
    worker, no Arrow transfer, no serialization boundary (companion
    plan test pins zero *EvalPython nodes). That makes SQL UDFs the
    FIRST choice for shared row-level logic at 100 TB — the 10-100x
    UDF tax (q100 vs q199) simply never starts.

    Per-row products are IEEE-deterministic in both engines; the
    aggregate uses the repo's exact decimal-sum discipline (one cast
    per addend, double at the end) so partial-agg order can't leak
    into the hash. Oracle inlines the identical formulas — which is
    the point: the UDF is sugar with zero semantic distance."""
    from s4_spark.catalog import register_views

    register_views(spark, sf_dir, tables=("lineitem",))
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION net_rev(p DOUBLE, d DOUBLE) "
        "RETURNS DOUBLE RETURN p * (1 - d)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION taxed_rev(p DOUBLE, d DOUBLE, t DOUBLE) "
        "RETURNS DOUBLE RETURN net_rev(p, d) * (1 + t)"
    )
    return spark.sql(
        """
        WITH pr AS (
          SELECT l_returnflag, l_linestatus,
                 net_rev(l_extendedprice, l_discount) AS net,
                 taxed_rev(l_extendedprice, l_discount, l_tax) AS taxed
          FROM lineitem WHERE l_shipdate >= TIMESTAMP '1995-01-01')
        SELECT l_returnflag, l_linestatus, count(*) AS n,
               CAST(SUM(CAST(net AS DECIMAL(30,6))) AS DOUBLE) AS net_sum,
               CAST(SUM(CAST(taxed AS DECIMAL(30,6))) AS DOUBLE) AS taxed_sum
        FROM pr GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
        """
    )


@query(
    "q280_xml_roundtrip",
    oracle="""
    SELECT o_orderstatus, count(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS total,
           CAST(min(o_orderdate) AS DATE) AS first_day,
           CAST(max(o_orderdate) AS DATE) AS last_day
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    section="B8-functions",
)
def q280(spark, sf_dir):
    """NATIVE XML EXPRESSIONS (``to_xml`` / ``from_xml``, Spark 4.0)
    — the in-plan codec counterpart of q019's XML FILE SOURCE: q019
    reads whole .xml files from storage (rowTag framing, schema
    inference — an ingest boundary); q280 is the per-COLUMN codec for
    XML embedded inside another feed (an XML payload field in a Kafka
    record or parquet string column), the same source-vs-expression
    split the JSON surface has (q003 file scan vs q085's from_json).
    Every order is serialized to an XML record and parsed back with an
    explicit schema, and the aggregate over the ROUND-TRIPPED columns
    must hash-equal the oracle computed on the ORIGINAL table — typed
    losslessness (bigint, double money, NTZ timestamp) proven
    end-to-end, q245's parse/rebuild discipline applied to the one
    legacy feed format (SOAP exports, sitemaps, publisher dumps) that
    still shows up in training-data ingest.

    Both directions are JVM expressions inside whole-stage codegen
    (StaxXmlParser under a regular Project — no Python worker, no
    extra jar in Spark 4), so the codec adds a per-row CPU cost but
    zero topology: no shuffle, no barrier, and the aggregate behind it
    keeps map-side partial combine. Malformed records follow the same
    PERMISSIVE/DROPMALFORMED policy surface as from_json — the
    engine's answer to the reference's silent JSON drop
    (river/jsonr.go:100-109) extends to XML unchanged."""
    o = t(spark, sf_dir, "orders")
    xml = o.select(
        F.to_xml(
            F.struct("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate")
        ).alias("x")
    )
    parsed = xml.select(
        F.from_xml(
            "x",
            "o_orderkey BIGINT, o_orderstatus STRING, "
            "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ",
        ).alias("v")
    ).select("v.*")
    return (
        parsed.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            dsum("o_totalprice").alias("total"),
            F.min("o_orderdate").cast("date").alias("first_day"),
            F.max("o_orderdate").cast("date").alias("last_day"),
        )
        # bounded result (one row per order status)
        .transform(ordered_small, "o_orderstatus")
    )
