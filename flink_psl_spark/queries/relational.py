"""Batch relational query inventory (SURVEY §2.2–§2.4, §2.6–§2.8).

Where the Spark SQL and DuckDB dialects agree, one SQL text serves as both
query and oracle (``sql_query``). Dialect-divergent cases register separate
texts; DataFrame-API operators register a Python callable + SQL oracle.

Float discipline: every aggregate over doubles is ROUNDed identically on
both sides so summation-order differences below the rounding grain can't
flip the value hash.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from flink_psl_spark.queries.registry import query, sql_query, tables
from flink_psl_spark.materialize import materialize

# ---------------------------------------------------------------------------
# Calc (fused project+filter) — reference StreamExecCalc.java:49
# ---------------------------------------------------------------------------

sql_query(
    "calc_project_filter",
    """
    SELECT l_orderkey, l_linenumber,
           -- price(2dp) × discount(2dp) is an exact 4-decimal quantity: round
           -- through DECIMAL so half-way ties break identically everywhere
           CAST(ROUND(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)), 2)
                AS DOUBLE) AS disc_price,
           CAST(ROUND(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                AS DECIMAL(18,6)), 2) AS DOUBLE) AS charge
    FROM lineitem
    WHERE l_returnflag = 'R' AND l_quantity BETWEEN 10 AND 20
    """,
)

# ---------------------------------------------------------------------------
# Aggregations — reference BatchExecHashAggregate.java:52 & friends
# ---------------------------------------------------------------------------

# TPC-H Q1-style pricing summary: the flagship aggregation
sql_query(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2)                                    AS sum_qty,
           ROUND(SUM(l_extendedprice), 2)                               AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)            AS sum_disc_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           ROUND(AVG(l_quantity), 4)                                    AS avg_qty,
           ROUND(AVG(l_extendedprice), 4)                               AS avg_price,
           ROUND(AVG(l_discount), 4)                                    AS avg_disc,
           COUNT(*)                                                     AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)

# TPC-H-shaped suite (reference flink-end-to-end-tests/flink-tpch-test):
# Q3/Q6/Q14/Q18 adapted to the fixture's column subset

sql_query(
    "q3_shipping_priority",
    """
    SELECT o_orderkey,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           o_orderdate
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
      AND l_shipdate  > TIMESTAMP '1998-06-01 00:00:00'
    GROUP BY o_orderkey, o_orderdate
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
)

sql_query(
    "q6_forecast_revenue",
    """
    SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)

sql_query(
    "q14_promo_effect",
    """
    SELECT ROUND(100.00 * SUM(CASE WHEN p_type LIKE 'PROMO%'
                    THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
           / SUM(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-10-01 00:00:00'
    """,
)

sql_query(
    "q18_large_volume",
    """
    SELECT c_name, o_orderkey, o_orderdate, o_totalprice,
           ROUND(SUM(l_quantity), 2) AS total_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey HAVING SUM(l_quantity) > 350)
    GROUP BY c_name, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
)

sql_query(
    "agg_distinct",
    """
    SELECT o_orderpriority,
           COUNT(DISTINCT o_custkey) AS uniq_cust,
           COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS total
    FROM orders
    GROUP BY o_orderpriority
    """,
)

sql_query(
    "agg_stats",
    """
    SELECT l_returnflag,
           ROUND(AVG(l_quantity), 6)          AS avg_q,
           ROUND(STDDEV_SAMP(l_quantity), 6)  AS sd_q,
           ROUND(VAR_SAMP(l_quantity), 6)     AS var_q,
           ROUND(STDDEV_POP(l_discount), 6)   AS sdp_d,
           MIN(l_quantity)                    AS min_q,
           MAX(l_quantity)                    AS max_q
    FROM lineitem
    GROUP BY l_returnflag
    """,
)

sql_query(
    "agg_rollup",
    """
    SELECT r_name, n_name,
           CAST(GROUPING(r_name) AS INT) AS g_r, CAST(GROUPING(n_name) AS INT) AS g_n,
           COUNT(*) AS n_cust, ROUND(SUM(c_acctbal), 2) AS bal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP(r_name, n_name)
    """,
)

sql_query(
    "agg_cube",
    """
    SELECT c_mktsegment, o_orderpriority,
           CAST(GROUPING(c_mktsegment) AS INT) AS g_m, CAST(GROUPING(o_orderpriority) AS INT) AS g_p,
           COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS total
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY CUBE(c_mktsegment, o_orderpriority)
    """,
)

sql_query(
    "agg_grouping_sets",
    """
    SELECT c_mktsegment, c_nationkey, COUNT(*) AS n
    FROM customer
    GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
    """,
)


@query(
    "agg_listagg",
    oracle="""
    SELECT r_regionkey, STRING_AGG(n_name, ',' ORDER BY n_name) AS nations
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_regionkey
    """,
)
def agg_listagg(spark, sf_dir):
    """LISTAGG (reference ListAggFunction.java) via flink_psl_spark.functions.listagg."""
    from flink_psl_spark.functions import listagg

    t = tables(spark, sf_dir)
    return (
        t["nation"]
        .join(t["region"], F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_regionkey")
        .agg(listagg("n_name", ",").alias("nations"))
    )


@query(
    "agg_collect",
    oracle="""
    SELECT n_regionkey,
           ARRAY_TO_STRING(LIST_SORT(LIST(DISTINCT n_nationkey)), ',') AS nations
    FROM nation GROUP BY n_regionkey
    """,
)
def agg_collect(spark, sf_dir):
    """COLLECT multiset agg (reference CollectAggFunction.java) — sorted set.

    The sorted set is projected through array_join to a scalar string so the
    harness's row canonicalizer (pandas sort/hash) never sees an array cell.
    """
    t = tables(spark, sf_dir)
    return (
        t["nation"]
        .groupBy("n_regionkey")
        .agg(
            F.array_join(
                F.sort_array(F.collect_set("n_nationkey")).cast("array<string>"),
                ",",
            ).alias("nations")
        )
    )


@query(
    "agg_approx_distinct",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS exact_parts,
           TRUE AS within_10pct
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_approx_distinct(spark, sf_dir):
    """APPROX_COUNT_DISTINCT (reference BatchApproxCountDistinctAggFunctions.java:55,
    HyperLogLog) → Spark approx_count_distinct (HLL++).

    The sketch itself is engine-specific, so the oracle-able invariant is the
    HLL++ accuracy contract: the estimate lands within ±10% of the exact
    count (default rsd 0.05 → far tighter in practice). Exact counts anchor
    the hash; the boolean carries the approx check."""
    t = tables(spark, sf_dir)
    return (
        t["lineitem"]
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("exact_parts"),
            F.approx_count_distinct("l_partkey").alias("__approx"),
        )
        .select(
            "l_returnflag",
            "exact_parts",
            F.col("__approx").between(
                F.col("exact_parts") * 0.9, F.col("exact_parts") * 1.1
            ).alias("within_10pct"),
        )
    )


# ---------------------------------------------------------------------------
# Joins — reference §2.3 (hash/sort-merge/nested-loop; all join types)
# ---------------------------------------------------------------------------

sql_query(
    "join_multiway_revenue",
    """
    SELECT n_name,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           COUNT(*) AS n_items
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    """,
)

sql_query(
    "join_left_agg",
    """
    SELECT c_mktsegment,
           COUNT(*) AS n_rows,
           COUNT(o_orderkey) AS n_orders,
           COUNT(CASE WHEN o_orderkey IS NULL THEN 1 END) AS n_no_order
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_mktsegment
    """,
)

sql_query(
    "join_full_outer",
    """
    SELECT COALESCE(s.nk, c.nk) AS nationkey, s.s_cnt, c.c_cnt
    FROM (SELECT s_nationkey AS nk, COUNT(*) AS s_cnt
          FROM supplier WHERE s_acctbal > 5000 GROUP BY s_nationkey) s
    FULL JOIN (SELECT c_nationkey AS nk, COUNT(*) AS c_cnt
               FROM customer WHERE c_acctbal < 0 GROUP BY c_nationkey) c
    ON s.nk = c.nk
    """,
)

sql_query(
    "join_semi",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 400000)
    """,
)

sql_query(
    "join_anti",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)

sql_query(
    "join_theta_nonequi",
    """
    SELECT n1.n_name AS nation_a, n2.n_name AS nation_b, n1.n_regionkey AS rk
    FROM nation n1 JOIN nation n2
      ON n1.n_regionkey = n2.n_regionkey AND n1.n_nationkey < n2.n_nationkey
    """,
)

sql_query(
    "join_cross",
    """
    SELECT r_name, n_name FROM region CROSS JOIN nation
    """,
)


@query(
    "join_broadcast_dim",
    oracle="""
    SELECT r_name, COUNT(*) AS n_cust, ROUND(AVG(c_acctbal), 4) AS avg_bal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)
def join_broadcast_dim(spark, sf_dir):
    """Explicit broadcast-hash join of small dims (reference
    BatchExecHashJoin.java:55 broadcast distribution) — at 100 TB the dims
    stay map-side; no fact-table shuffle before aggregation."""
    t = tables(spark, sf_dir)
    return (
        t["customer"]
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(
            F.count("*").alias("n_cust"),
            F.round(F.avg("c_acctbal"), 4).alias("avg_bal"),
        )
    )


# ---------------------------------------------------------------------------
# Set operations — reference §2.7
# ---------------------------------------------------------------------------

sql_query(
    "setop_union_all",
    """
    SELECT c_nationkey AS nk, 'c' AS side FROM customer WHERE c_acctbal > 9000
    UNION ALL
    SELECT s_nationkey AS nk, 's' AS side FROM supplier WHERE s_acctbal > 9000
    """,
)

sql_query(
    "setop_union_distinct",
    """
    SELECT c_nationkey AS nk FROM customer
    UNION
    SELECT s_nationkey AS nk FROM supplier
    """,
)

sql_query(
    "setop_intersect",
    """
    SELECT c_nationkey AS nk FROM customer WHERE c_acctbal > 9900
    INTERSECT
    SELECT s_nationkey AS nk FROM supplier
    """,
)

sql_query(
    "setop_except",
    """
    SELECT c_nationkey AS nk FROM customer
    EXCEPT
    SELECT s_nationkey AS nk FROM supplier
    """,
)

sql_query(
    "setop_intersect_all",
    """
    SELECT l_suppkey AS sk FROM lineitem WHERE l_quantity < 3
    INTERSECT ALL
    SELECT l_suppkey AS sk FROM lineitem WHERE l_quantity > 48
    """,
)

sql_query(
    "setop_except_all",
    """
    SELECT l_suppkey AS sk FROM lineitem WHERE l_quantity < 3
    EXCEPT ALL
    SELECT l_suppkey AS sk FROM lineitem WHERE l_quantity > 48
    """,
)

# ---------------------------------------------------------------------------
# Subqueries — reference §2.7 (decorrelation)
# ---------------------------------------------------------------------------

sql_query(
    "subquery_scalar",
    """
    SELECT COUNT(*) AS n_above
    FROM lineitem
    WHERE l_quantity > (SELECT AVG(l_quantity) FROM lineitem)
    """,
)

sql_query(
    "subquery_in",
    """
    SELECT COUNT(*) AS n
    FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal < 0)
    """,
)

sql_query(
    "subquery_correlated",
    """
    SELECT s_suppkey, s_name FROM supplier
    WHERE EXISTS (SELECT 1 FROM lineitem
                  WHERE l_suppkey = s_suppkey AND l_quantity >= 50)
    """,
)

# ---------------------------------------------------------------------------
# Sort / limit — reference BatchExecSortLimit.java:48
# ---------------------------------------------------------------------------

sql_query(
    "orderby_limit",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
)

# ---------------------------------------------------------------------------
# UNNEST / explode — reference LogicalUnnestRule.scala, Correlate
# ---------------------------------------------------------------------------


@query(
    "explode_words",
    oracle="""
    SELECT word, COUNT(*) AS n
    FROM (SELECT UNNEST(STRING_SPLIT(text, ' ')) AS word FROM documents) t
    GROUP BY word
    ORDER BY n DESC, word
    LIMIT 20
    """,
)
def explode_words(spark, sf_dir):
    """UNNEST/explode (reference $UNNEST_ROWS$1, CorrelateCodeGenerator) —
    word frequency over documents."""
    t = tables(spark, sf_dir)
    return (
        t["documents"]
        .select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "word")
        .limit(20)
    )


@query(
    "pivot_event_counts",
    oracle="""
    SELECT user_id,
           COUNT(CASE WHEN event_type = 'click' THEN 1 END)    AS click,
           COUNT(CASE WHEN event_type = 'view' THEN 1 END)     AS view,
           COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
           COUNT(CASE WHEN event_type = 'error' THEN 1 END)    AS error,
           COUNT(CASE WHEN event_type = 'signup' THEN 1 END)   AS signup
    FROM events GROUP BY user_id
    """,
)
def pivot_event_counts(spark, sf_dir):
    """PIVOT (Table API pivot pattern) — per-user event-type matrix."""
    t = tables(spark, sf_dir)
    out = (
        t["events"]
        .groupBy("user_id")
        .pivot("event_type", ["click", "view", "purchase", "error", "signup"])
        .agg(F.count(F.lit(1)))
    )
    # pivot yields NULL for absent combos; the conditional-agg oracle yields 0
    return out.select(
        "user_id",
        *[F.coalesce(F.col(c), F.lit(0)).alias(c)
          for c in ["click", "view", "purchase", "error", "signup"]],
    )


# ---------------------------------------------------------------------------
# Scalar function surface — reference §2.8
# ---------------------------------------------------------------------------


@query(
    "string_functions",
    oracle="""
    SELECT c_custkey,
           UPPER(c_name) AS up, LOWER(c_name) AS lo,
           SUBSTR(c_name, 1, 8) AS sub,
           CAST(LENGTH(c_name) AS INTEGER) AS len,
           CONCAT_WS('|', c_name, c_mktsegment) AS cw,
           LPAD(CAST(c_custkey AS VARCHAR), 8, '0') AS pad,
           REPLACE(c_name, '#', '-') AS rep,
           REVERSE(c_mktsegment) AS rev,
           SPLIT_PART(c_name, '#', 2) AS tok,
           CAST(POSITION('#' IN c_name) AS INTEGER) AS pos,
           TRIM(c_mktsegment) AS tr,
           LEFT(c_mktsegment, 3) AS l3,
           RIGHT(c_mktsegment, 3) AS r3,
           ASCII(c_mktsegment) AS asc_,
           REPEAT('ab', 3) AS rep3
    FROM customer WHERE c_custkey <= 200
    """,
)
def string_functions(spark, sf_dir):
    """String surface (BuiltInFunctionDefinitions.java:501-935) incl. the
    SPLIT_INDEX compat shim (zero-based — oracle's SPLIT_PART is 1-based)."""
    from flink_psl_spark.functions import split_index

    t = tables(spark, sf_dir)
    c = t["customer"].where(F.col("c_custkey") <= 200)
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("up"),
        F.lower("c_name").alias("lo"),
        F.substring("c_name", 1, 8).alias("sub"),
        F.length("c_name").alias("len"),
        F.concat_ws("|", "c_name", "c_mktsegment").alias("cw"),
        F.lpad(F.col("c_custkey").cast("string"), 8, "0").alias("pad"),
        F.replace(F.col("c_name"), F.lit("#"), F.lit("-")).alias("rep"),
        F.reverse("c_mktsegment").alias("rev"),
        F.coalesce(split_index("c_name", "#", 1), F.lit("")).alias("tok"),
        F.instr("c_name", "#").alias("pos"),
        F.trim("c_mktsegment").alias("tr"),
        F.substring("c_mktsegment", 1, 3).alias("l3"),
        F.substring("c_mktsegment", -3, 3).alias("r3"),
        F.ascii("c_mktsegment").alias("asc_"),
        F.repeat(F.lit("ab"), 3).alias("rep3"),
    )


@query(
    "math_functions",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           ABS(l_discount - 0.05) AS a,
           CAST(CEIL(l_quantity / 7) AS BIGINT) AS c,
           CAST(FLOOR(l_quantity / 7) AS BIGINT) AS f,
           ROUND(l_extendedprice / 1000, 3) AS r,
           MOD(CAST(l_quantity AS BIGINT), 5) AS m,
           ROUND(POWER(l_quantity, 0.5), 6) AS pw,
           ROUND(SQRT(l_extendedprice), 6) AS sq,
           ROUND(LN(l_extendedprice), 6) AS lg,
           ROUND(LOG10(l_extendedprice), 6) AS l10,
           CAST(SIGN(l_discount - 0.05) AS DOUBLE) AS sg,
           GREATEST(l_quantity, 25.0) AS gr,
           LEAST(l_quantity, 25.0) AS le,
           SIGN(l_tax) * FLOOR(ABS(l_tax) * POWER(10, 1)) / POWER(10, 1) AS trunc1
    FROM lineitem WHERE l_orderkey <= 400
    """,
)
def math_functions(spark, sf_dir):
    """Math surface (BuiltInFunctionDefinitions.java:960-1411) incl. the
    TRUNCATE compat shim (SqlFunctionUtils.struncate semantics)."""
    from flink_psl_spark.functions import truncate

    t = tables(spark, sf_dir)
    li = t["lineitem"].where(F.col("l_orderkey") <= 400)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_discount") - 0.05).alias("a"),
        F.ceil(F.col("l_quantity") / 7).alias("c"),
        F.floor(F.col("l_quantity") / 7).alias("f"),
        F.round(F.col("l_extendedprice") / 1000, 3).alias("r"),
        (F.col("l_quantity").cast("bigint") % 5).alias("m"),
        F.round(F.pow(F.col("l_quantity"), F.lit(0.5)), 6).alias("pw"),
        F.round(F.sqrt("l_extendedprice"), 6).alias("sq"),
        F.round(F.log("l_extendedprice"), 6).alias("lg"),
        F.round(F.log10("l_extendedprice"), 6).alias("l10"),
        F.signum(F.col("l_discount") - 0.05).alias("sg"),
        F.greatest(F.col("l_quantity"), F.lit(25.0)).alias("gr"),
        F.least(F.col("l_quantity"), F.lit(25.0)).alias("le"),
        truncate("l_tax", 1).alias("trunc1"),
    )


@query(
    "temporal_functions",
    oracle="""
    SELECT o_orderkey,
           CAST(EXTRACT(YEAR FROM o_orderdate) AS INT)  AS y,
           CAST(EXTRACT(MONTH FROM o_orderdate) AS INT) AS mo,
           CAST(EXTRACT(DAY FROM o_orderdate) AS INT)   AS d,
           CAST(EXTRACT(HOUR FROM o_orderdate) AS INT)  AS h,
           CAST(DATE_TRUNC('month', o_orderdate) AS TIMESTAMP) AS mstart,
           o_orderdate + INTERVAL '30' DAY              AS plus30,
           CAST(DATE_DIFF('day', TIMESTAMP '2024-01-01', o_orderdate) AS INT) AS dd,
           STRFTIME(o_orderdate, '%Y-%m')               AS ym,
           CAST(DAYOFWEEK(o_orderdate) + 1 AS INT)      AS dow
    FROM orders WHERE o_orderkey <= 500
    """,
)
def temporal_functions(spark, sf_dir):
    """Temporal surface (BuiltInFunctionDefinitions.java:1439-1560):
    extract/date_trunc/interval arithmetic/date_format/datediff/dayofweek.
    Oracle adjusts DuckDB's 0-based dayofweek to Spark's 1-based."""
    t = tables(spark, sf_dir)
    o = t["orders"].where(F.col("o_orderkey") <= 500)
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("y"),
        F.month("o_orderdate").alias("mo"),
        F.dayofmonth("o_orderdate").alias("d"),
        F.hour("o_orderdate").alias("h"),
        F.date_trunc("month", "o_orderdate").alias("mstart"),
        (F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")).alias("plus30"),
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("2024-01-01").cast("date")
        ).alias("dd"),
        F.date_format("o_orderdate", "yyyy-MM").alias("ym"),
        F.dayofweek("o_orderdate").alias("dow"),
    )


@query(
    "hash_functions",
    oracle="""
    SELECT c_custkey, MD5(c_name) AS h_md5, SHA256(c_name) AS h_sha256
    FROM customer WHERE c_custkey <= 100
    """,
)
def hash_functions(spark, sf_dir):
    """Hash surface (BuiltInFunctionDefinitions.java:1641-1689)."""
    t = tables(spark, sf_dir)
    return (
        t["customer"]
        .where(F.col("c_custkey") <= 100)
        .select(
            "c_custkey",
            F.md5("c_name").alias("h_md5"),
            F.sha2("c_name", 256).alias("h_sha256"),
        )
    )


@query(
    "json_functions",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(JSON_EXTRACT_STRING(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           COUNT(CASE WHEN CAST(JSON_EXTRACT_STRING(props, '$.k') AS BIGINT) > 50
                 THEN 1 END) AS n_big
    FROM events GROUP BY event_type
    """,
)
def json_functions(spark, sf_dir):
    """JSON surface (SqlJsonUtils.java JSON_VALUE) via get_json_object."""
    from flink_psl_spark.functions import json_value

    t = tables(spark, sf_dir)
    k = json_value("props", "$.k").cast("bigint")
    return (
        t["events"]
        .groupBy("event_type")
        .agg(
            F.sum(k).alias("sum_k"),
            F.count(F.when(k > 50, 1)).alias("n_big"),
        )
    )


sql_query(
    "case_conditional",
    """
    SELECT o_orderkey,
           CASE WHEN o_totalprice > 300000 THEN 'big'
                WHEN o_totalprice > 100000 THEN 'mid'
                ELSE 'small' END AS bucket,
           COALESCE(NULLIF(o_orderstatus, 'P'), 'PENDING') AS status,
           GREATEST(o_totalprice, 50000.0) AS floor_price,
           LEAST(CAST(o_custkey AS BIGINT), 1000) AS capped
    FROM orders WHERE o_orderkey <= 1000
    """,
)

@query(
    "agg_multiset",
    oracle="""
    SELECT l_returnflag,
           CAST(TO_JSON(HISTOGRAM(CAST(l_quantity AS BIGINT) // 10))
                AS VARCHAR) AS qty_decile_counts
    FROM lineitem WHERE l_orderkey <= 2000
    GROUP BY l_returnflag
    """,
)
def agg_multiset(spark, sf_dir):
    """COLLECT → MULTISET (reference CollectAggFunction, MultisetType ≈
    value→count map, SURVEY §1.2): histogram as a sorted count map."""
    t = tables(spark, sf_dir)
    li = t["lineitem"].where(F.col("l_orderkey") <= 2000)
    bucket = (F.col("l_quantity").cast("bigint") / 10).cast("bigint")
    counts = (
        li.select("l_returnflag", bucket.alias("__b"))
        .groupBy("l_returnflag", "__b")
        .agg(F.count("*").alias("__c"))
    )
    return (
        counts.groupBy("l_returnflag")
        .agg(
            F.to_json(
                F.map_from_entries(
                    F.array_sort(F.collect_list(F.struct("__b", "__c")))
                )
            ).alias("qty_decile_counts")
        )
    )


@query(
    "agg_json",
    oracle="""
    SELECT r_regionkey,
           CAST(TO_JSON(LIST_SORT(LIST(n_name))) AS VARCHAR) AS names_json,
           CAST(TO_JSON(MAP_FROM_ENTRIES(LIST_SORT(LIST(
                struct_pack(key := n_name, value := n_nationkey)))))
                AS VARCHAR) AS kv_json
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_regionkey
    """,
)
def agg_json(spark, sf_dir):
    """JSON_ARRAYAGG / JSON_OBJECTAGG (reference JsonArrayAggFunction /
    JsonObjectAggFunction) via to_json over sorted collect_list — the
    deterministic distributed form."""
    t = tables(spark, sf_dir)
    j = (
        t["nation"]
        .join(t["region"], F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_regionkey")
        .agg(
            F.to_json(F.array_sort(F.collect_list("n_name"))).alias("names_json"),
            F.to_json(
                F.map_from_entries(
                    F.array_sort(
                        F.collect_list(F.struct("n_name", "n_nationkey"))
                    )
                )
            ).alias("kv_json"),
        )
    )
    return j


# ---------------------------------------------------------------------------
# Dedup + changelog operators (reference §2.6) — DataFrame API + SQL oracle
# ---------------------------------------------------------------------------


@query(
    "dedup_keep_first",
    oracle="""
    SELECT user_id, event_id, event_type, value FROM (
      SELECT user_id, event_id, event_type, value,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events) t
    WHERE rn = 1
    """,
)
def dedup_keep_first(spark, sf_dir):
    """Keep-first dedup (reference RowTimeDeduplicateFunction keepLastRow=false)."""
    from flink_psl_spark.operators import deduplicate

    t = tables(spark, sf_dir)
    return deduplicate(
        t["events"], "user_id", ["ts", "event_id"], keep="first"
    ).select("user_id", "event_id", "event_type", "value")


@query(
    "dedup_keep_last",
    oracle="""
    SELECT user_id, event_id, event_type, value FROM (
      SELECT user_id, event_id, event_type, value,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events) t
    WHERE rn = 1
    """,
)
def dedup_keep_last(spark, sf_dir):
    """Keep-last dedup (reference keepLastRow=true)."""
    from flink_psl_spark.operators import deduplicate

    t = tables(spark, sf_dir)
    return deduplicate(
        t["events"], "user_id", ["ts", "event_id"], keep="last"
    ).select("user_id", "event_id", "event_type", "value")


@query(
    "changelog_normalize",
    oracle="""
    SELECT user_id, event_id, value FROM (
      SELECT user_id, event_id, value,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn,
             CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op
      FROM events WHERE event_type IN ('click', 'purchase', 'error')) t
    WHERE rn = 1 AND op <> 'D'
    """,
)
def changelog_normalize_q(spark, sf_dir):
    """ChangelogNormalize (reference StreamExecChangelogNormalize.java:74):
    treat events as a keyed changelog ('error' = delete) and collapse to the
    current image per key."""
    from flink_psl_spark.operators import changelog_normalize

    t = tables(spark, sf_dir)
    cdc = (
        t["events"]
        .where(F.col("event_type").isin("click", "purchase", "error"))
        .withColumn(
            "__op",
            F.when(F.col("event_type") == "error", F.lit("D")).otherwise(F.lit("U")),
        )
    )
    return changelog_normalize(cdc, "user_id", ["ts", "event_id"]).select(
        "user_id", "event_id", "value"
    )


# ---------------------------------------------------------------------------
# Interval / as-of joins (reference §2.3) — DataFrame API + SQL oracle
# ---------------------------------------------------------------------------


@query(
    "interval_join_batch",
    oracle="""
    SELECT e1.user_id, e1.event_id AS click_id, e2.event_id AS purchase_id
    FROM events e1 JOIN events e2
      ON e1.user_id = e2.user_id
     AND e2.ts >= e1.ts AND e2.ts <= e1.ts + INTERVAL '10' MINUTE
    WHERE e1.event_type = 'click' AND e2.event_type = 'purchase'
    """,
)
def interval_join_batch(spark, sf_dir):
    """Interval join (reference TimeIntervalJoin.java:51): purchases within
    10 minutes after a click, per user."""
    from flink_psl_spark.operators import interval_join

    t = tables(spark, sf_dir)
    clicks = t["events"].where(F.col("event_type") == "click")
    purchases = t["events"].where(F.col("event_type") == "purchase")
    joined = interval_join(
        clicks, purchases, "user_id", "ts", "ts", "'0' SECOND", "'10' MINUTE"
    )
    return joined.select(
        F.col("__l.user_id").alias("user_id"),
        F.col("__l.event_id").alias("click_id"),
        F.col("__r.event_id").alias("purchase_id"),
    )


@query(
    "asof_join",
    oracle="""
    SELECT p.event_id, p.user_id, p.ts, c.value AS r_value, c.event_id AS r_event_id
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def asof_join_q(spark, sf_dir):
    """Temporal/as-of join (reference TemporalRowTimeJoinOperator.java:78):
    each purchase joins the latest prior click of the same user. Oracle:
    DuckDB's native ASOF JOIN."""
    from flink_psl_spark.operators import asof_join

    t = tables(spark, sf_dir)
    purchases = t["events"].where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = t["events"].where(F.col("event_type") == "click").select(
        "user_id", "ts", "value", F.col("event_id").alias("click_event_id")
    )
    out = asof_join(
        purchases, clicks, on="user_id", left_time="ts", right_time="ts",
        how="left", right_prefix="r_",
    )
    return out.select(
        "event_id", "user_id", "ts",
        F.col("r_value").alias("r_value"),
        F.col("r_click_event_id").alias("r_event_id"),
    )


@query(
    "temporal_join_sql",
    # DuckDB's native ASOF JOIN is the oracle for the Flink SQL
    # FOR SYSTEM_TIME AS OF clause (same latest-version-at-ts semantics)
    oracle="""
    WITH dim AS (
      SELECT user_id, ts, ROUND(MAX(value), 2) AS rate
      FROM events WHERE event_type = 'click' GROUP BY user_id, ts)
    SELECT p.event_id, p.user_id, d.rate
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN dim d ON p.user_id = d.user_id AND p.ts >= d.ts
    """,
)
def temporal_join_sql(spark, sf_dir):
    """Flink SQL temporal join (`JOIN dim FOR SYSTEM_TIME AS OF fact.ts`,
    reference StreamExecTemporalJoin.java:57 + FlinkLogicalSnapshot):
    the clause is rewritten to a validity-interval join
    (temporal_sql.rewrite_system_time_joins) and run through the script
    client; each purchase sees the click-rate version in force at its
    timestamp."""
    from flink_psl_spark.sql_client import run_script
    from flink_psl_spark.temporal_sql import (
        clear_versioned_tables,
        register_versioned_table,
    )

    t = tables(spark, sf_dir)
    t["events"].where(F.col("event_type") == "click").groupBy(
        "user_id", "ts"
    ).agg(F.round(F.max("value"), 2).alias("rate")).createOrReplaceTempView(
        "click_rates_v"
    )
    t["events"].where(
        F.col("event_type") == "purchase"
    ).createOrReplaceTempView("purchases_v")
    register_versioned_table(
        "click_rates_v", time_col="ts", primary_key="user_id"
    )
    try:
        res = run_script(
            spark,
            """
            SELECT p.event_id, p.user_id, d.rate
            FROM purchases_v p
            LEFT JOIN click_rates_v FOR SYSTEM_TIME AS OF p.ts AS d
              ON d.user_id = p.user_id;
            """,
        )[-1].df
    finally:
        clear_versioned_tables()
    return res


@query(
    "hash_code_fn",
    # Java String.hashCode replayed in DuckDB via list_reduce with the same
    # 32-bit signed wraparound
    oracle="""
    SELECT c_custkey,
           LIST_REDUCE(
             LIST_PREPEND(CAST(0 AS BIGINT),
                          [CAST(UNICODE(x) AS BIGINT)
                           FOR x IN regexp_extract_all(c_name, '.')]),
             (h, c) -> ((h*31 + c + 2147483648) % 4294967296 + 4294967296)
                       % 4294967296 - 2147483648) AS hc
    FROM customer WHERE c_custkey <= 200
    """,
)
def hash_code_fn(spark, sf_dir):
    """HASH_CODE (FlinkSqlOperatorTable.java:424): Java String.hashCode as
    a pure expression — ported jobs that bucket on it keep identical
    placement."""
    from flink_psl_spark.functions.compat import hash_code

    t = tables(spark, sf_dir)
    return (
        t["customer"]
        .where(F.col("c_custkey") <= 200)
        .select("c_custkey", hash_code("c_name").alias("hc"))
    )


@query(
    "temporal_table_function_sql",
    # DuckDB's native ASOF (inner) JOIN replays the temporal table
    # function's latest-version-at-ts inner semantics
    oracle="""
    WITH dim AS (
      SELECT user_id, ts, ROUND(MAX(value), 2) AS rate
      FROM events WHERE event_type = 'click' GROUP BY user_id, ts)
    SELECT p.event_id, p.user_id, d.rate
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF JOIN dim d ON p.user_id = d.user_id AND p.ts >= d.ts
    """,
)
def temporal_table_function_sql(spark, sf_dir):
    """The LEGACY temporal table function join (reference
    TemporalTableFunction / `FROM fact, LATERAL TABLE (fn(fact.ts))` with
    the key equality in WHERE): the dialect layer rewrites the lateral
    call into the same validity-interval join FOR SYSTEM_TIME compiles
    to, inner semantics."""
    from flink_psl_spark.sql_client import run_script
    from flink_psl_spark.temporal_sql import (
        clear_versioned_tables,
        register_temporal_table_function,
    )

    t = tables(spark, sf_dir)
    t["events"].where(F.col("event_type") == "click").groupBy(
        "user_id", "ts"
    ).agg(F.round(F.max("value"), 2).alias("rate")).createOrReplaceTempView(
        "click_rates_ttf_v"
    )
    t["events"].where(
        F.col("event_type") == "purchase"
    ).createOrReplaceTempView("purchases_ttf_v")
    register_temporal_table_function(
        "rates", "click_rates_ttf_v", time_col="ts", primary_key="user_id"
    )
    try:
        res = run_script(
            spark,
            """
            SELECT p.event_id, p.user_id, r.rate
            FROM purchases_ttf_v p,
                 LATERAL TABLE (rates(p.ts)) AS r
            WHERE r.user_id = p.user_id;
            """,
        )[-1].df
    finally:
        clear_versioned_tables()
    return res


@query(
    "table_profile_report",
    # one row per profiled column; min/max as canonical strings (int and
    # varchar columns render identically in both engines)
    oracle="""
    SELECT 'o_orderkey' AS column, COUNT(*) AS n_rows,
           COUNT(*) - COUNT(o_orderkey) AS n_null,
           COUNT(DISTINCT o_orderkey) AS n_distinct,
           CAST(MIN(o_orderkey) AS VARCHAR) AS min_value,
           CAST(MAX(o_orderkey) AS VARCHAR) AS max_value
    FROM orders
    UNION ALL
    SELECT 'o_custkey', COUNT(*), COUNT(*) - COUNT(o_custkey),
           COUNT(DISTINCT o_custkey),
           CAST(MIN(o_custkey) AS VARCHAR), CAST(MAX(o_custkey) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', COUNT(*), COUNT(*) - COUNT(o_orderstatus),
           COUNT(DISTINCT o_orderstatus),
           MIN(o_orderstatus), MAX(o_orderstatus)
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', COUNT(*), COUNT(*) - COUNT(o_orderpriority),
           COUNT(DISTINCT o_orderpriority),
           MIN(o_orderpriority), MAX(o_orderpriority)
    FROM orders
    """,
)
def table_profile_report(spark, sf_dir):
    """Dataset profiling (the pre-training data-quality report): per
    column rows/nulls/distincts/min/max in ONE scan — a single wide
    aggregation, one single-row-per-partition exchange."""
    from flink_psl_spark.operators.misc import profile_table

    t = tables(spark, sf_dir)
    # exact distincts so the DuckDB oracle matches bit-for-bit (the
    # scale default is the HLL sketch — one sketch row per partition)
    return profile_table(
        t["orders"],
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"],
        exact_distinct=True,
    )


@query(
    "salted_join_skew",
    # salting is a pure partitioning rewrite — the plain equi-join is an
    # exact oracle (hot keys from the CMS diagnosis get n_salts-way
    # spread, cold keys pay nothing)
    oracle="""
    SELECT e.user_id, e.event_id, c.c_mktsegment
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    WHERE e.user_id < 120
    """,
)
def salted_join_skew(spark, sf_dir):
    """Selective salted skew join: hot keys (found by heavy_keys — the
    CMS diagnosis, no full-cardinality exchange) spread over n_salts
    reducers, the small side replicates ONLY its hot rows; result is
    exactly the plain join."""
    from flink_psl_spark.llm.text import heavy_keys
    from flink_psl_spark.operators.skew import salted_join

    t = tables(spark, sf_dir)
    ev = t["events"].where(F.col("user_id") < 120).select(
        "user_id", "event_id"
    )
    cust = t["customer"].select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    hot = heavy_keys(ev, "user_id", threshold=70).select(
        F.col("user_id").cast("bigint").alias("user_id")
    )
    return salted_join(
        ev, cust, "user_id", n_salts=8, hot_keys=hot, salt_source="event_id"
    ).select("user_id", "event_id", "c_mktsegment")


@query(
    "table_validation_report",
    # one row per declared constraint; mixes passing and failing checks
    # so both report states are exercised
    oracle="""
    WITH rpt AS (
      SELECT 'not_null' AS chk, 'o_custkey' AS target,
             CAST(COUNT(*) - COUNT(o_custkey) AS BIGINT) AS violations
      FROM orders
      UNION ALL
      SELECT 'in_range', 'o_totalprice',
             CAST(COALESCE(SUM(CASE WHEN o_totalprice IS NOT NULL
                  AND (o_totalprice < 0 OR o_totalprice > 200000)
                  THEN 1 ELSE 0 END), 0) AS BIGINT)
      FROM orders
      UNION ALL
      SELECT 'in_set', 'o_orderstatus',
             CAST(COALESCE(SUM(CASE WHEN o_orderstatus IS NOT NULL
                  AND o_orderstatus NOT IN ('O', 'F')
                  THEN 1 ELSE 0 END), 0) AS BIGINT)
      FROM orders
      UNION ALL
      SELECT 'matches', 'o_orderpriority',
             CAST(COALESCE(SUM(CASE WHEN o_orderpriority IS NOT NULL
                  AND NOT regexp_matches(o_orderpriority, '^[1-5]-')
                  THEN 1 ELSE 0 END), 0) AS BIGINT)
      FROM orders
      UNION ALL
      SELECT 'pricey_pending', '*',
             CAST(COALESCE(SUM(CASE WHEN o_totalprice > 400000
                  AND o_orderstatus = 'P' THEN 1 ELSE 0 END), 0) AS BIGINT)
      FROM orders
      UNION ALL
      SELECT 'min_rows', '*',
             CAST(GREATEST(0, 1000000000 - COUNT(*)) AS BIGINT)
      FROM orders
      UNION ALL
      SELECT 'unique', 'o_orderkey',
             CAST(COALESCE(SUM(cnt - 1), 0) AS BIGINT)
      FROM (SELECT COUNT(*) AS cnt FROM orders GROUP BY o_orderkey)
      WHERE cnt > 1
      UNION ALL
      SELECT 'foreign_key', 'o_custkey->c_custkey',
             CAST(COUNT(*) AS BIGINT)
      FROM orders
      WHERE o_custkey IS NOT NULL
        AND o_custkey NOT IN (SELECT c_custkey FROM customer)
    )
    SELECT chk AS "check", target, violations,
           violations = 0 AS passed
    FROM rpt
    """,
)
def table_validation_report(spark, sf_dir):
    """Deequ-style declarative constraint suite: all row-level checks +
    the volume floor fold into ONE scan (one conditional sum each,
    map-side partials); uniqueness adds one keyed two-level agg and the
    FK check one broadcast anti join — the minimum shuffles those
    cross-partition properties admit."""
    from flink_psl_spark.operators.validation import (
        foreign_key,
        in_range,
        in_set,
        matches,
        min_rows,
        not_null,
        satisfies,
        unique,
        validate_table,
    )

    t = tables(spark, sf_dir)
    return validate_table(
        t["orders"],
        [
            not_null("o_custkey"),
            in_range("o_totalprice", 0, 200000),
            in_set("o_orderstatus", ["O", "F"]),
            matches("o_orderpriority", "^[1-5]-"),
            satisfies(
                "pricey_pending",
                (F.col("o_totalprice") > 400000)
                & (F.col("o_orderstatus") == "P"),
            ),
            min_rows(1_000_000_000),
            unique("o_orderkey"),
            foreign_key("o_custkey", t["customer"], "c_custkey"),
        ],
    )


@query(
    "snapshot_diff_changelog",
    # the simulated next-day snapshot: keys %97==0 deleted, %101==0
    # repriced (+1.0), %103==0 re-keyed +10M as inserts; the diff must
    # emit exactly the I/U/D rows (after-image; before-image for D)
    oracle="""
    WITH o AS (SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders),
    n AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 101 = 0 THEN o_totalprice + 1.0
                  ELSE o_totalprice END AS o_totalprice,
             o_orderstatus
      FROM o WHERE o_orderkey % 97 <> 0
      UNION ALL
      SELECT o_orderkey + 10000000, o_totalprice, o_orderstatus
      FROM o WHERE o_orderkey % 103 = 0
    ),
    j AS (
      SELECT o.o_orderkey AS ok, n.o_orderkey AS nk,
             o.o_totalprice AS op, n.o_totalprice AS np,
             o.o_orderstatus AS os, n.o_orderstatus AS ns
      FROM o FULL OUTER JOIN n ON o.o_orderkey = n.o_orderkey
    )
    SELECT COALESCE(nk, ok) AS o_orderkey,
           CASE WHEN nk IS NULL THEN op ELSE np END AS o_totalprice,
           CASE WHEN nk IS NULL THEN os ELSE ns END AS o_orderstatus,
           CASE WHEN ok IS NULL THEN 'I'
                WHEN nk IS NULL THEN 'D'
                WHEN op IS DISTINCT FROM np
                  OR os IS DISTINCT FROM ns THEN 'U' END AS __op
    FROM j
    WHERE ok IS NULL OR nk IS NULL
       OR op IS DISTINCT FROM np OR os IS DISTINCT FROM ns
    """,
)
def snapshot_diff_changelog(spark, sf_dir):
    """Snapshot-to-changelog bootstrap: diff two full table images into
    I/U/D rows (RowKind semantics) with ONE full-outer sort-merge join
    on the key; unchanged keys never leave the join projection."""
    from flink_psl_spark.operators.changelog import snapshot_diff

    t = tables(spark, sf_dir)
    old = t["orders"].select("o_orderkey", "o_totalprice", "o_orderstatus")
    key = F.col("o_orderkey")
    new = old.where(key % 97 != 0).withColumn(
        "o_totalprice",
        F.when(
            key % 101 == 0, F.col("o_totalprice") + F.lit(1.0)
        ).otherwise(F.col("o_totalprice")),
    )
    inserts = old.where(key % 103 == 0).withColumn(
        "o_orderkey", key + F.lit(10_000_000)
    )
    return snapshot_diff(
        old, new.unionByName(inserts), "o_orderkey"
    )


@query(
    "metric_anomaly_report",
    # per-priority monthly order counts scored against their trailing
    # 6-month window; the squared 3-sigma test is exact integer algebra
    # evaluated in doubles (< 2^53), so both engines agree bit-for-bit
    oracle="""
    WITH m AS (
      SELECT o_orderpriority AS metric,
             CAST(DATE_TRUNC('month', o_orderdate) AS TIMESTAMP) AS month,
             CAST(COUNT(*) AS BIGINT) AS value
      FROM orders GROUP BY 1, 2),
    s AS (
      SELECT metric, month, value,
             CAST(COUNT(value) OVER w AS DOUBLE) AS n,
             CAST(SUM(value) OVER w AS DOUBLE) AS s1,
             CAST(SUM(value * value) OVER w AS DOUBLE) AS s2
      FROM m
      WINDOW w AS (PARTITION BY metric ORDER BY month
                   ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING))
    SELECT metric, month, value, CAST(n AS BIGINT) AS n_hist,
           CASE WHEN n >= 3 THEN
             (n * value - s1) * (n * value - s1) * (n - 1.0)
               > 9.0 * (n * s2 - s1 * s1) * n
           END AS is_anomaly
    FROM s
    """,
)
def metric_anomaly_report(spark, sf_dir):
    """Deequ-style metric anomaly detection over time: monthly order
    counts per priority, each point tested against its trailing window
    with the SQUARED k-sigma inequality — exact integer algebra, no
    cross-engine stddev. One shuffle on the series key; windows are
    parameter-sized."""
    from flink_psl_spark.operators.validation import detect_metric_anomalies

    t = tables(spark, sf_dir)
    m = t["orders"].groupBy(
        F.col("o_orderpriority").alias("metric"),
        F.date_trunc("month", F.col("o_orderdate")).alias("month"),
    ).agg(F.count("*").cast("bigint").alias("value"))
    return detect_metric_anomalies(
        m, order_col="month", window=6, k2=9, min_history=3
    )


@query(
    "distribution_drift_report",
    # PSI between the pre-1998 and 1998+ order-value distributions over
    # 20 fixed-width buckets on [0, 500000); add-1-smoothed shares and
    # the per-bucket contribution quantized at 1e-9
    oracle="""
    WITH ob AS (
      SELECT LEAST(19, GREATEST(0,
               CAST(FLOOR((o_totalprice - 0.0) / 25000.0) AS INTEGER)))
             AS bucket
      FROM orders
      WHERE o_totalprice IS NOT NULL
        AND o_orderdate < TIMESTAMP '1998-01-01'),
    nb AS (
      SELECT LEAST(19, GREATEST(0,
               CAST(FLOOR((o_totalprice - 0.0) / 25000.0) AS INTEGER)))
             AS bucket
      FROM orders
      WHERE o_totalprice IS NOT NULL
        AND o_orderdate >= TIMESTAMP '1998-01-01'),
    oc AS (SELECT bucket, COUNT(*) AS n_old FROM ob GROUP BY bucket),
    nc AS (SELECT bucket, COUNT(*) AS n_new FROM nb GROUP BY bucket),
    spine AS (SELECT UNNEST(RANGE(0, 20)) AS bucket),
    j AS (
      SELECT CAST(s.bucket AS INTEGER) AS bucket,
             CAST(COALESCE(oc.n_old, 0) AS BIGINT) AS n_old,
             CAST(COALESCE(nc.n_new, 0) AS BIGINT) AS n_new
      FROM spine s
      LEFT JOIN oc ON s.bucket = oc.bucket
      LEFT JOIN nc ON s.bucket = nc.bucket),
    tot AS (SELECT SUM(n_old) AS no, SUM(n_new) AS nn FROM j)
    SELECT bucket, n_old, n_new,
           CAST(FLOOR(((n_old + 1.0) / (no + 20.0)
                       - (n_new + 1.0) / (nn + 20.0))
                 * LN(((n_old + 1.0) / (no + 20.0))
                      / ((n_new + 1.0) / (nn + 20.0)))
                 * 1000000000.0) AS BIGINT) AS psi_q
    FROM j, tot
    """,
)
def distribution_drift_report(spark, sf_dir):
    """Population-stability drift gate: compare the order-value
    distribution before/after 1998 over fixed-width buckets. Two
    conditional-count aggs + a 20-row spine join; per-bucket PSI
    contributions are integer-quantized so both engines agree
    bit-for-bit. Total PSI = sum(psi_q)/1e9."""
    from flink_psl_spark.operators.validation import distribution_drift

    t = tables(spark, sf_dir)
    cut = F.lit("1998-01-01").cast("timestamp")
    old = t["orders"].where(F.col("o_orderdate") < cut)
    new = t["orders"].where(F.col("o_orderdate") >= cut)
    return distribution_drift(
        old, new, "o_totalprice", lo=0.0, hi=500000.0, n_buckets=20
    )


@query(
    "schema_contract_check",
    # the orders fixture checked against a contract that declares one
    # column with the wrong type and one absent column, while leaving
    # o_orderpriority undeclared — all four statuses exercised
    oracle="""
    SELECT * FROM (VALUES
      ('o_orderkey', 'bigint', 'bigint', 'ok'),
      ('o_custkey', 'bigint', 'bigint', 'ok'),
      ('o_orderstatus', 'int', 'string', 'type_mismatch'),
      ('o_totalprice', 'double', 'double', 'ok'),
      ('o_orderdate', 'timestamp_ntz', 'timestamp_ntz', 'ok'),
      ('o_tax_rate', 'double', NULL, 'missing'),
      ('o_orderpriority', NULL, 'string', 'unexpected')
    ) AS t("column", expected_type, actual_type, status)
    """,
)
def schema_contract_check(spark, sf_dir):
    """Schema handshake before content validation: declared-vs-actual
    column report (ok / type_mismatch / missing / unexpected) from
    metadata only — no scan."""
    from flink_psl_spark.operators.validation import expect_schema

    t = tables(spark, sf_dir)
    return expect_schema(
        t["orders"],
        "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus INT, "
        "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, o_tax_rate DOUBLE",
    )


@query(
    "join_size_advisor",
    # CMS inner-product estimation is hash-family-specific (engine
    # xxhash64), so — like the ANN recall oracles — the SQL side states
    # the exact size and the PROVABLE bound contract the estimate must
    # satisfy (always an overestimate; within eps*|L|*|R|)
    oracle="""
    SELECT CAST((SELECT COUNT(*) FROM events e
                 JOIN customer c ON e.user_id = c.c_custkey) AS BIGINT)
             AS exact_size,
           TRUE AS within_bounds
    """,
)
def join_size_advisor(spark, sf_dir):
    """Join-cardinality advisor: the CMS inner-product estimate of
    |events ⋈ customer| from two sketch-bounded scans — never running
    the join. The emitted contract is the paper's guarantee: the
    estimate is an overestimate within eps·|L|·|R|."""
    from flink_psl_spark.operators.skew import cms_join_size

    t = tables(spark, sf_dir)
    ev = t["events"].select(F.col("user_id").alias("k"))
    cu = t["customer"].select(F.col("c_custkey").alias("k"))
    eps = 0.0001
    est = cms_join_size(ev, cu, "k", eps=eps)
    exact = ev.join(cu, "k").count()
    bound = exact + eps * ev.count() * cu.count()
    return spark.createDataFrame(
        [(exact, bool(exact <= est <= bound))],
        "exact_size bigint, within_bounds boolean",
    )


@query(
    "dataset_fingerprint_orders",
    # the same md5-row-hash sum mod a 63-bit prime, replayed in SQL —
    # commutative, so any engine/order/partitioning reproduces it
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(CAST('0x' || SUBSTR(MD5(CONCAT_WS('|',
                  COALESCE(CAST(o_orderkey AS VARCHAR), '␀'),
                  COALESCE(CAST(o_custkey AS VARCHAR), '␀'),
                  COALESCE(CAST(o_orderstatus AS VARCHAR), '␀'))),
                1, 15) AS BIGINT) AS HUGEINT))
              % 9223372036854775783 AS BIGINT) AS fingerprint
    FROM orders
    """,
)
def dataset_fingerprint_orders(spark, sf_dir):
    """Order-independent dataset fingerprint (reproducibility stamp):
    md5 row hashes summed modulo a 63-bit prime — identical across
    engines, row orders, and partitionings; one scan, one-row
    result."""
    from flink_psl_spark.operators.misc import dataset_fingerprint

    t = tables(spark, sf_dir)
    return dataset_fingerprint(
        t["orders"], ["o_orderkey", "o_custkey", "o_orderstatus"]
    )


@query(
    "table_topk_values_report",
    # per-column top-5 values by count (ties on the rendered value,
    # NULLs first — a NULL value IS a reportable category here)
    oracle="""
    WITH stacked AS (
      SELECT 'o_orderstatus' AS "column",
             CAST(o_orderstatus AS VARCHAR) AS value FROM orders
      UNION ALL
      SELECT 'o_orderpriority', CAST(o_orderpriority AS VARCHAR)
      FROM orders
      UNION ALL
      SELECT 'o_custkey', CAST(o_custkey AS VARCHAR) FROM orders),
    counts AS (
      SELECT "column", value, COUNT(*) AS n
      FROM stacked GROUP BY 1, 2),
    r AS (
      SELECT "column", value, CAST(n AS BIGINT) AS n,
             ROW_NUMBER() OVER (
               PARTITION BY "column"
               ORDER BY n DESC, value ASC NULLS FIRST) AS rank
      FROM counts)
    SELECT "column", value, n, CAST(rank AS INTEGER) AS rank
    FROM r WHERE rank <= 5
    """,
)
def table_topk_values_report(spark, sf_dir):
    """Most-frequent-values profiling: one row-local stack of the
    profiled columns, ONE (column, value) aggregation, and a
    WindowGroupLimit rank — category skew and default-value pollution
    in a single scan."""
    from flink_psl_spark.operators.misc import profile_topk

    t = tables(spark, sf_dir)
    return profile_topk(
        t["orders"], ["o_orderstatus", "o_orderpriority", "o_custkey"], k=5
    )


@query(
    "fuzzy_join_customers",
    # the blocked join is recall-exact (sound length bucketing), so the
    # naive theta join IS the oracle
    oracle="""
    SELECT l.c_custkey AS a, r.c_custkey AS b,
           CAST(levenshtein(l.c_name, r.c_name) AS INTEGER) AS dist
    FROM customer l JOIN customer r
      ON l.c_custkey < r.c_custkey
    WHERE l.c_custkey < 200 AND r.c_custkey < 200
      AND levenshtein(l.c_name, r.c_name) <= 2
    """,
)
def fuzzy_join_customers(spark, sf_dir):
    """Entity-resolution fuzzy self-join: customer-name pairs within
    edit distance 2, via sound length-bucket blocking (3x fan-out +
    one equi-join on the bucket — never a cartesian; recall is exactly
    the naive theta join's)."""
    from flink_psl_spark.operators.joins import fuzzy_join

    t = tables(spark, sf_dir)
    c = t["customer"].where(F.col("c_custkey") < 200).select(
        "c_custkey", "c_name"
    )
    l = c.select(F.col("c_custkey").alias("a"), F.col("c_name").alias("ln"))
    r = c.select(F.col("c_custkey").alias("b"), F.col("c_name").alias("rn"))
    return (
        fuzzy_join(l, r, "ln", "rn", max_distance=2)
        .where(F.col("a") < F.col("b"))
        .select(
            "a", "b",
            F.levenshtein("ln", "rn").cast("int").alias("dist"),
        )
    )


@query(
    "fuzzy_name_dedup",
    # fuzzy pairs → recursive-CTE transitive closure → keep the lowest
    # id of each edit-distance cluster (exactly the Spark composition:
    # blocked fuzzy_join + min-label connected components)
    oracle="""
    WITH RECURSIVE
    c AS (SELECT c_custkey, c_name FROM customer WHERE c_custkey < 200),
    pairs AS (
      SELECT l.c_custkey AS s, r.c_custkey AS d
      FROM c l JOIN c r ON l.c_custkey < r.c_custkey
      WHERE levenshtein(l.c_name, r.c_name) <= 2),
    und AS (SELECT s, d FROM pairs UNION SELECT d, s FROM pairs
            UNION SELECT c_custkey, c_custkey FROM c),
    walk(node, label) AS (
      SELECT s, s FROM und
      UNION
      SELECT u.d, w.label FROM walk w JOIN und u ON u.s = w.node),
    comp AS (SELECT node, MIN(label) AS component
             FROM walk GROUP BY node)
    SELECT c.c_custkey, c.c_name, comp.component AS cluster_id,
           c.c_custkey = comp.component AS is_kept
    FROM c JOIN comp ON c.c_custkey = comp.node
    """,
)
def fuzzy_name_dedup(spark, sf_dir):
    """Entity-resolution dedup end-to-end: fuzzy_join finds edit-
    distance pairs (sound blocking, no cartesian), min-label connected
    components clusters them, and the lowest id of each cluster is the
    kept canonical record — the same compose-from-primitives shape as
    the MinHash dedup pipeline, over relational entities."""
    from flink_psl_spark.llm.clustering import connected_components
    from flink_psl_spark.operators.joins import fuzzy_join

    t = tables(spark, sf_dir)
    c = t["customer"].where(F.col("c_custkey") < 200).select(
        "c_custkey", "c_name"
    )
    l = c.select(F.col("c_custkey").alias("a"), F.col("c_name").alias("ln"))
    r = c.select(F.col("c_custkey").alias("b"), F.col("c_name").alias("rn"))
    pairs = (
        fuzzy_join(l, r, "ln", "rn", max_distance=2)
        .where(F.col("a") < F.col("b"))
        .select(F.col("a").alias("s"), F.col("b").alias("d"))
    )
    # singletons participate so every record gets a cluster id
    singles = c.select(
        F.col("c_custkey").alias("s"), F.col("c_custkey").alias("d")
    )
    comp = connected_components(pairs.unionByName(singles), "s", "d")
    return c.join(
        comp, c["c_custkey"] == comp["node"]
    ).select(
        "c_custkey",
        "c_name",
        F.col("component").alias("cluster_id"),
        (F.col("c_custkey") == F.col("component")).alias("is_kept"),
    )


def _zorder_sql(cols_ranges: list, bits: int) -> str:
    """The Morton interleave as portable SQL — generated to mirror
    zorder_key's bit planes exactly (bit i of column j → i*N + j)."""
    n = len(cols_ranges)
    terms = []
    for j, (col, lo, hi) in enumerate(cols_ranges):
        width = (hi - lo) / (1 << bits)
        q = (
            f"COALESCE(LEAST({(1 << bits) - 1}, GREATEST(0, "
            f"CAST(FLOOR(({col} - {lo:.1f}) / {width!r}) AS BIGINT))), 0)"
        )
        for i in range(bits):
            terms.append(f"((({q} >> {i}) & 1) << {i * n + j})")
    return " | ".join(terms)


@query(
    "zorder_clustering_report",
    # clustering quality after a Z-order sort: 16 equal row-ranges of
    # the z-ordered sequence, each reporting its min/max in BOTH
    # dimensions — tight ranges in every bucket are what parquet
    # row-group min/max pruning needs; bucket = floor((rn-1)*16/n) is
    # exact integer math (NTILE's uneven-split rule varies by engine)
    oracle=f"""
    WITH z AS (
      SELECT user_id, value,
             {_zorder_sql([("user_id", 0.0, 256.0), ("value", 0.0, 512.0)], 8)} AS zkey,
             event_id
      FROM events),
    r AS (
      SELECT user_id, value,
             ROW_NUMBER() OVER (ORDER BY zkey, event_id) AS rn,
             COUNT(*) OVER () AS n
      FROM z)
    SELECT CAST(FLOOR((rn - 1) * 16 / n) AS INTEGER) AS bucket,
           CAST(MIN(user_id) AS BIGINT) AS min_user,
           CAST(MAX(user_id) AS BIGINT) AS max_user,
           ROUND(MIN(value), 6) AS min_value,
           ROUND(MAX(value), 6) AS max_value,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM r GROUP BY 1
    """,
)
def zorder_clustering_report(spark, sf_dir):
    """Z-order layout verification: after Morton-interleave sorting on
    (user_id, value), each of 16 row-ranges stays tight in BOTH
    dimensions — the property that lets parquet min/max statistics
    prune scans for predicates on either column. The write-side
    counterpart is write_zordered (range-partition + sort by the same
    key)."""
    from flink_psl_spark.llm.sampling import distributed_ntile
    from flink_psl_spark.operators.bucketing import zorder_key

    t = tables(spark, sf_dir)
    z = zorder_key(
        ["user_id", "value"], ranges=[(0.0, 256.0), (0.0, 512.0)], bits=8
    )
    ev = t["events"].select(
        "user_id", "value", z.alias("zkey"), "event_id"
    )
    # scale-safe global rank: two-pass prefix sum over coarse z-bins —
    # never the corpus-sized single-partition window
    tiled = distributed_ntile(
        ev, "zkey", "event_id", n_tiles=16, out_col="__tile",
        bin_col=F.floor(F.col("zkey") / 4096),
    )
    return (
        tiled.groupBy(
            (F.col("__tile") - 1).cast("int").alias("bucket")
        )
        .agg(
            F.min("user_id").cast("bigint").alias("min_user"),
            F.max("user_id").cast("bigint").alias("max_user"),
            F.round(F.min("value"), 6).alias("min_value"),
            F.round(F.max("value"), 6).alias("max_value"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@query(
    "interval_join_keyless",
    oracle="""
    SELECT p.event_id AS purchase_id, e.event_id AS error_id,
           p.ts AS purchase_ts, e.ts AS error_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM events WHERE event_type = 'error') e
      ON e.ts >= p.ts - INTERVAL 1 MINUTE
     AND e.ts <= p.ts + INTERVAL 1 MINUTE
    """,
)
def interval_join_keyless(spark, sf_dir):
    """KEYLESS interval join (global temporal correlation — every error
    within ±1 minute of any purchase) via the binned range-join
    rewrite: without an equi key Catalyst's only native plan is the
    quadratic BroadcastNestedLoopJoin; binning both sides by the window
    span turns it into a shuffle equi-join whose per-task cost is bin
    occupancy, not table size (the 100 TB shape; plan-asserted in
    tests/test_plan_shapes.py)."""
    from flink_psl_spark.operators import binned_interval_join

    t = tables(spark, sf_dir)
    purchases = t["events"].where(F.col("event_type") == "purchase")
    errors = t["events"].where(F.col("event_type") == "error")
    joined = binned_interval_join(
        purchases, errors, "ts", "ts", "-1 minute", "1 minute"
    )
    return joined.select(
        F.col("__l.event_id").alias("purchase_id"),
        F.col("__r.event_id").alias("error_id"),
        F.col("__l.ts").alias("purchase_ts"),
        F.col("__r.ts").alias("error_ts"),
    )


@query(
    "asof_join_tolerance_forward",
    # nearest LATER click within 15 minutes, per user; rn=1 restates the
    # forward as-of pick ((user_id, ts) is unique in the fixture, so the
    # nearest-ts row is unambiguous on both sides)
    oracle="""
    WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
    c AS (SELECT * FROM events WHERE event_type = 'click'),
    j AS (
      SELECT p.event_id, p.user_id, p.ts,
             c.event_id AS r_event_id, c.value AS r_value,
             ROW_NUMBER() OVER (PARTITION BY p.event_id
                                ORDER BY c.ts) AS rn
      FROM p JOIN c
        ON p.user_id = c.user_id
       AND c.ts >= p.ts
       AND c.ts <= p.ts + INTERVAL 15 MINUTE)
    SELECT p.event_id, p.user_id, p.ts, j.r_value, j.r_event_id
    FROM p LEFT JOIN (SELECT * FROM j WHERE rn = 1) j
      ON j.event_id = p.event_id
    """,
)
def asof_join_tolerance_forward(spark, sf_dir):
    """FORWARD as-of join with a TOLERANCE bound (reference
    TemporalRowTimeJoinOperator.java:78 generalized the same way pandas
    merge_asof's direction/tolerance are): each purchase matches the
    NEAREST LATER click of the same user, but only within 15 minutes —
    beyond the bound the left row keeps NULLs (how='left')."""
    from flink_psl_spark.operators import asof_join

    t = tables(spark, sf_dir)
    purchases = t["events"].where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = t["events"].where(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", "value"
    )
    out = asof_join(
        purchases, clicks, "user_id", "ts", "ts",
        how="left", direction="forward", tolerance="15 minutes",
    )
    return out.select("event_id", "user_id", "ts", "r_value", "r_event_id")


@query(
    "incremental_partition_refresh",
    # the oracle is the FULL recompute over the post-change table — the
    # incremental path (clean partitions pass through, dirty months
    # recompute from a key-filtered scan) must equal it exactly
    oracle="""
    WITH updated AS (
      SELECT o_orderkey, o_orderpriority,
             CAST(DATE_TRUNC('month', o_orderdate) AS TIMESTAMP) AS month,
             CASE WHEN o_orderkey % 37 = 0
                  THEN o_totalprice + 10.0
                  ELSE o_totalprice END AS price
      FROM orders)
    SELECT month, o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(CAST(price AS DECIMAL(18,4))), 2) AS revenue
    FROM updated GROUP BY month, o_orderpriority
    """,
)
def incremental_partition_refresh(spark, sf_dir):
    """Incremental materialized-aggregate maintenance: a changelog
    reprices orders with o_orderkey % 37 == 0; only the MONTHS those
    rows live in recompute (broadcast semi-join pushes the dirty-key
    filter to the scan), every other month's row passes through from
    the old materialization untouched — and the result provably equals
    the full recompute (the oracle)."""
    from flink_psl_spark.operators import incremental_refresh

    t = tables(spark, sf_dir)
    base = t["orders"].select(
        "o_orderkey", "o_orderpriority",
        F.date_trunc("month", F.col("o_orderdate")).alias("month"),
        F.col("o_totalprice").alias("price"),
    )

    def agg_fn(df):
        return df.groupBy("month", "o_orderpriority").agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.round(
                F.sum(F.col("price").cast("decimal(18,4)")), 2
            ).cast("double").alias("revenue"),
        )

    old_agg = agg_fn(base)
    changed = base.where(F.col("o_orderkey") % 37 == 0)
    updated = base.withColumn(
        "price",
        F.when(
            F.col("o_orderkey") % 37 == 0,
            F.col("price") + F.lit(10.0),
        ).otherwise(F.col("price")),
    )
    return incremental_refresh(
        old_agg, updated, changed.select("month"), ["month"], agg_fn
    )


@query(
    "kanon_customer_release",
    # exact replica: per-(nation, segment) counts, groups under k=10
    # coalesced into one '*' residual bucket, residual published only if
    # it itself covers >= 10 rows
    oracle="""
    WITH g AS (
      SELECT CAST(c_nationkey AS VARCHAR) AS nation,
             c_mktsegment AS segment, COUNT(*) AS n
      FROM customer GROUP BY 1, 2),
    kept AS (SELECT nation, segment, n FROM g WHERE n >= 10),
    resid AS (
      SELECT '*' AS nation, '*' AS segment, SUM(n) AS n
      FROM g WHERE n < 10 HAVING SUM(n) >= 10)
    SELECT nation, segment, CAST(n AS BIGINT) AS n FROM kept
    UNION ALL
    SELECT nation, segment, CAST(n AS BIGINT) AS n FROM resid
    """,
)
def kanon_customer_release(spark, sf_dir):
    """k-anonymity release gate (privacy curation): publish customer
    counts by (nation, segment) only where the combination covers >= 10
    customers; smaller cells merge into one suppressed '*' bucket. One
    grouped aggregation over one scan; the residual re-aggregates group
    rows, not data rows."""
    from flink_psl_spark.operators.validation import k_anonymize

    t = tables(spark, sf_dir)
    c = t["customer"].select(
        F.col("c_nationkey").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
    )
    return k_anonymize(c, ["nation", "segment"], k=10)


@query(
    "incremental_join_view_refresh",
    # the refreshed view must equal the full recompute exactly, so the
    # oracle is simply the complete join, aggregated
    oracle="""
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def incremental_join_view_refresh(spark, sf_dir):
    """Materialized-join maintenance under append-only deltas: the
    stored orders x customer view absorbs a day's appended orders AND
    appended customers through two delta-driven broadcast joins — the
    old result passes through unjoined. Output aggregates the refreshed
    view; correctness = exact equality with the full recompute."""
    from flink_psl_spark.operators.misc import incremental_join_refresh

    t = tables(spark, sf_dir)
    # shared join-key column name for the operator
    orders = t["orders"].withColumnRenamed("o_custkey", "custkey")
    customer = t["customer"].withColumnRenamed("c_custkey", "custkey")
    a_old = orders.where(F.col("o_orderkey") % 11 != 0)
    da = orders.where(F.col("o_orderkey") % 11 == 0)
    b_old = customer.where(F.col("custkey") % 13 != 0)
    db = customer.where(F.col("custkey") % 13 == 0)
    old = a_old.join(b_old, on=["custkey"], how="inner")
    refreshed = incremental_join_refresh(
        old, a_old, da, b_old, db, on=["custkey"]
    )
    return refreshed.groupBy("c_mktsegment").agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")), 2
        ).cast("double").alias("revenue"),
    )


@query(
    "l_diversity_customers",
    oracle="""
    SELECT CAST(c_nationkey AS VARCHAR) AS nation,
           c_mktsegment AS segment,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT CASE WHEN c_acctbal < 0
                                    THEN 'debt' ELSE 'credit' END)
                AS BIGINT) AS n_sensitive,
           COUNT(DISTINCT CASE WHEN c_acctbal < 0
                               THEN 'debt' ELSE 'credit' END) >= 2
             AS diverse
    FROM customer GROUP BY 1, 2
    """,
)
def l_diversity_customers(spark, sf_dir):
    """l-diversity audit over the k-anonymity quasi-identifier: a
    (nation, segment) cell whose members all share one account-balance
    class leaks it even at k rows. Two-level distinct aggregation, one
    scan."""
    from flink_psl_spark.operators.validation import l_diversity_report

    t = tables(spark, sf_dir)
    c = t["customer"].select(
        F.col("c_nationkey").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
        F.when(F.col("c_acctbal") < 0, "debt")
        .otherwise("credit")
        .alias("bal_class"),
    )
    return l_diversity_report(
        c, ["nation", "segment"], "bal_class", l=2
    )


@query(
    "dp_noisy_event_counts",
    # deterministic replay of the seeded Laplace mechanism: u from the
    # md5 bucket (+0.5, /16^6), noise = -(1/eps)*sign(u-.5)*ln(1-2|u-.5|)
    oracle="""
    SELECT event_type,
           ROUND(COUNT(*)
             + -2.0 * SIGN(u - 0.5) * LN(1.0 - 2.0 * ABS(u - 0.5)), 4)
             AS noisy_n
    FROM (
      SELECT event_type,
             (CAST('0x' || SUBSTR(MD5(event_type || '|' || '42'), 1, 6)
                   AS BIGINT) + 0.5) / 16777216.0 AS u
      FROM events)
    GROUP BY event_type, u
    """,
)
def dp_noisy_event_counts(spark, sf_dir):
    """Laplace-noised count release (epsilon = 0.5): the DP release
    mechanism with a deterministic test-mode noise source (seeded
    md5 inverse-CDF) so the release is reproducible and oracle-checked;
    production swaps in a real RNG (documented in dp_noisy_counts)."""
    from flink_psl_spark.operators.validation import dp_noisy_counts

    t = tables(spark, sf_dir)
    return dp_noisy_counts(
        t["events"], ["event_type"], epsilon=0.5, seed="42"
    )


@query(
    "join_key_overlap_advisor",
    # the KMV estimator replayed over the two key sets (k=256): distinct
    # customer keys on each side, overlap fraction = how much of the
    # dimension the fact table actually references
    oracle="""
    WITH el AS (
      SELECT 'orders' AS g, CAST(o_custkey AS VARCHAR) AS e FROM orders
      UNION ALL
      SELECT 'customer' AS g, CAST(c_custkey AS VARCHAR) AS e
      FROM customer),
    h AS (
      SELECT DISTINCT g,
             CAST('0x' || SUBSTR(MD5(e), 1, 12) AS BIGINT) AS h
      FROM el),
    sk AS (
      SELECT g, h FROM (
        SELECT g, h, ROW_NUMBER() OVER (PARTITION BY g ORDER BY h) AS rk
        FROM h) WHERE rk <= 256),
    pg AS (SELECT g, COUNT(*) AS n, MAX(h) AS theta FROM sk GROUP BY g),
    est AS (
      SELECT g, CASE WHEN n < 256 THEN CAST(n AS DOUBLE)
                     ELSE CAST(71776119061217280 AS DOUBLE)
                          / CAST(theta AS DOUBLE)
                END AS est
      FROM pg),
    u AS (
      SELECT h, MAX(CASE WHEN g = 'orders' THEN 1 ELSE 0 END) AS in_a,
             MAX(CASE WHEN g = 'customer' THEN 1 ELSE 0 END) AS in_b
      FROM sk GROUP BY h),
    uk AS (
      SELECT h, in_a, in_b FROM (
        SELECT h, in_a, in_b, ROW_NUMBER() OVER (ORDER BY h) AS urk
        FROM u) WHERE urk <= 256),
    ur AS (
      SELECT COUNT(*) AS n_u, MAX(h) AS theta_u,
             SUM(in_a * in_b) AS matches
      FROM uk)
    SELECT 256 AS k,
           ROUND((SELECT est FROM est WHERE g = 'orders'), 4)
             AS est_distinct_a,
           ROUND((SELECT est FROM est WHERE g = 'customer'), 4)
             AS est_distinct_b,
           ROUND(CASE WHEN n_u < 256 THEN CAST(n_u AS DOUBLE)
                      ELSE CAST(71776119061217280 AS DOUBLE)
                           / CAST(theta_u AS DOUBLE)
                 END, 4) AS est_distinct_union,
           ROUND(CAST(matches AS DOUBLE) / n_u, 6) AS jaccard_est,
           ROUND((CAST(matches AS DOUBLE) / n_u)
                 * CASE WHEN n_u < 256 THEN CAST(n_u AS DOUBLE)
                        ELSE CAST(71776119061217280 AS DOUBLE)
                             / CAST(theta_u AS DOUBLE)
                   END, 4) AS est_intersection
    FROM ur
    """,
)
def join_key_overlap_advisor(spark, sf_dir):
    """Join planning diagnosis from KMV sketches: estimate the distinct
    join-key sets of both sides and their overlap BEFORE running the
    join — low overlap predicts a mostly-dangling fact side (semi-join
    prefilter wins), near-total overlap predicts full fan-out. The
    sketches cost one scan per side with a parameter-sized exchange;
    the CMS-based join_size_advisor estimates output ROWS, this one
    estimates key-set RELATIONSHIPS — together they decide strategy."""
    from flink_psl_spark.llm import kmv_overlap

    t = tables(spark, sf_dir)
    keys = (
        t["orders"]
        .select(
            F.lit("orders").alias("side"),
            F.col("o_custkey").cast("string").alias("key"),
        )
        .unionByName(
            t["customer"].select(
                F.lit("customer").alias("side"),
                F.col("c_custkey").cast("string").alias("key"),
            )
        )
    )
    out = kmv_overlap(keys, "key", "side", "orders", "customer", k=256)
    return out.select(
        "k",
        F.round("est_distinct_a", 4).alias("est_distinct_a"),
        F.round("est_distinct_b", 4).alias("est_distinct_b"),
        F.round("est_distinct_union", 4).alias("est_distinct_union"),
        F.round("jaccard_est", 6).alias("jaccard_est"),
        F.round("est_intersection", 4).alias("est_intersection"),
    )


# exact replay of the histogram estimator: 256 fixed-width buckets
# over [0, 512), quantile = upper edge of the first bucket whose
# cumulative count reaches q*N. Shared with the streaming variant —
# bucket counts are a complete-mode aggregate, so the final streamed
# counts equal the batch counts exactly.
_HISTOGRAM_QUANTILES_ORACLE = """
    WITH src AS (
      SELECT LEAST(255, GREATEST(0,
               CAST(FLOOR(CAST(value AS DOUBLE) / 2.0) AS INT)))
               AS bucket
      FROM events WHERE value IS NOT NULL),
    c AS (SELECT bucket, COUNT(*) AS n FROM src GROUP BY bucket),
    cum AS (
      SELECT bucket, SUM(n) OVER (ORDER BY bucket) AS cum_n,
             SUM(n) OVER () AS total_n
      FROM c),
    qs AS (SELECT UNNEST([0.5, 0.9, 0.99]) AS q),
    hit AS (
      SELECT q, MIN(bucket) AS bucket, MAX(total_n) AS total_n
      FROM cum, qs WHERE cum_n >= q * total_n GROUP BY q)
    SELECT h.q, (h.bucket + 1) * 2.0 AS est_value,
           CAST(h.bucket AS INT) AS bucket,
           CAST(c2.cum_n AS BIGINT) AS cum_n,
           CAST(h.total_n AS BIGINT) AS total_n
    FROM hit h JOIN cum c2 ON h.bucket = c2.bucket
"""


@query("histogram_quantiles_report", oracle=_HISTOGRAM_QUANTILES_ORACLE)
def histogram_quantiles_report(spark, sf_dir):
    """Mergeable-histogram quantile estimates (p50/p90/p99 of the event
    value): one fixed-width bucket aggregation + an n_buckets-row
    cumulative window — deterministic and engine-replayable, unlike an
    opaque approx_percentile sketch blob, with error bounded by one
    bucket width. The quantile member of the sketch suite."""
    from flink_psl_spark.operators.validation import histogram_quantiles

    t = tables(spark, sf_dir)
    return histogram_quantiles(
        t["events"], "value", [0.5, 0.9, 0.99],
        lo=0.0, hi=512.0, n_buckets=256,
    )


@query(
    "gdpr_delete_sweep",
    # audit per request (every 97th doc id + two ids past the corpus
    # end, which must audit as matched=false), plus one summary row for
    # the purged corpus
    oracle="""
    WITH req AS (
      SELECT UNNEST(GENERATE_SERIES(0, 7000, 97)) AS doc_id),
    audit AS (
      SELECT r.doc_id,
             CAST(COUNT(d.doc_id) AS BIGINT) AS rows_deleted,
             COUNT(d.doc_id) > 0 AS matched
      FROM req r LEFT JOIN documents d ON d.doc_id = r.doc_id
      GROUP BY r.doc_id)
    SELECT CAST(doc_id AS BIGINT) AS doc_id, rows_deleted, matched
    FROM audit
    UNION ALL
    SELECT -1 AS doc_id,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
            WHERE doc_id NOT IN (SELECT doc_id FROM req))
             AS rows_deleted,
           TRUE AS matched
    """,
)
def gdpr_delete_sweep(spark, sf_dir):
    """Right-to-be-forgotten sweep over the corpus: purge requested
    doc_ids (broadcast anti join — the corpus never shuffles), audit
    one row per request with its match count (unmatched requests
    surface as matched=false for compliance review), and stamp the
    surviving row count as a summary row (doc_id = -1)."""
    from flink_psl_spark.operators.validation import delete_sweep

    t = tables(spark, sf_dir)
    docs = t["documents"]
    requests = spark.range(0, 7001, 97).select(
        F.col("id").alias("doc_id")
    )
    purged, audit = delete_sweep(docs, requests, ["doc_id"])
    summary = purged.agg(
        F.lit(-1).cast("bigint").alias("doc_id"),
        F.count("*").cast("bigint").alias("rows_deleted"),
        F.lit(True).alias("matched"),
    )
    return audit.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "rows_deleted",
        "matched",
    ).unionByName(summary)


# the migrated frame: events reshaped to the contract — value cast to
# string, a missing column materialized from its default, undeclared
# columns dropped; aggregate the result for a compact proof. Shared with
# the streaming variant (migration is expression-only, so the streamed
# frame equals the batch one).
_CONTRACT_MIGRATION_ORACLE = """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT CAST(value AS VARCHAR)) AS BIGINT)
             AS n_value_strs,
           MIN(region) AS region
    FROM (SELECT event_type, CAST(value AS VARCHAR) AS value,
                 'unassigned' AS region
          FROM events)
    GROUP BY event_type
"""


@query("schema_contract_migration", oracle=_CONTRACT_MIGRATION_ORACLE)
def schema_contract_migration(spark, sf_dir):
    """Write-side schema-contract enforcement: reshape events to the
    declared contract (value retyped to string, a new region column
    materialized from its default, undeclared columns dropped, contract
    column order) with one expression-only projection, then aggregate
    the conforming frame."""
    from flink_psl_spark.operators.validation import migrate_to_contract

    t = tables(spark, sf_dir)
    out = migrate_to_contract(
        t["events"],
        "event_type string, value string, region string",
        defaults={"region": "unassigned"},
    )
    return out.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.countDistinct("value").cast("bigint").alias("n_value_strs"),
        F.min("region").alias("region"),
    )


# ---------------------------------------------------------------------------
# Recursive CTEs (WITH RECURSIVE, new in Spark 4) — the declarative SQL
# analogue of the reference's bounded iterations
# (flink-streaming-java/.../api/datastream/IterativeStream.java:57 and the
# driver-loop form in datastream.py:120). Spark runs the loop as a
# UnionLoop that re-executes the recursive member once per level, so the
# member is kept JOIN-FREE: the anchor carries each key's loop-invariant
# values as arrays already in rank order, and a level only steps an index
# into them (Project <- Filter <- UnionLoopRef: no join, exchange or scan
# per level). Each recursion row carries its key's arrays, O(k^2) bytes
# per key for a chain of k <= spark.sql.cteRecursionLevelLimit (100;
# chains here are <= 25), in exchange for zero shuffles per level. The
# oracle keeps the textbook join form; both fold in the same order.
# The anchor frame binds to the text as a spark.sql frame argument
# ({view}): PySpark registers it under a unique name, analyzes the text
# and drops the view before spark.sql returns, so concurrent callers
# never share a name and nothing stays in the catalog.
# ---------------------------------------------------------------------------


@query(
    "recursive_cte_order_chain",
    oracle="""
    WITH RECURSIVE ranked AS (
      SELECT o_custkey, o_orderkey, CAST(o_totalprice AS DOUBLE) AS price,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS rn
      FROM orders
    ),
    chain (o_custkey, o_orderkey, step, cum) AS (
      SELECT o_custkey, o_orderkey, 1, ROUND(price, 2)
      FROM ranked WHERE rn = 1
      UNION ALL
      -- identical op order each level => identical doubles on both engines
      SELECT r.o_custkey, r.o_orderkey, c.step + 1, ROUND(c.cum + r.price, 2)
      FROM chain c JOIN ranked r
        ON r.o_custkey = c.o_custkey AND r.rn = c.step + 1
    )
    SELECT o_custkey, o_orderkey, CAST(step AS INT) AS step,
           ROUND(cum, 2) AS cum_spend
    FROM chain
    """,
)
def recursive_cte_order_chain(spark, sf_dir):
    """Running spend along each customer's order chain, WITH RECURSIVE
    over Spark's native UnionLoop. The anchor holds one row per customer
    with its order keys and prices as arrays sorted by (o_orderdate,
    o_orderkey), so level ``step`` reads ``prices[step]`` from its own
    row instead of joining the frontier back to a ranked orders table.
    Every recursion row carries its customer's arrays, O(k^2) bytes for
    k orders, in exchange for no shuffle per level. The fold is the
    oracle's ROUND(cum + price, 2) in the same order, so the doubles are
    identical."""
    t = tables(spark, sf_dir)
    chains = (
        t["orders"]
        .groupBy("o_custkey")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        "o_orderdate",
                        "o_orderkey",
                        F.col("o_totalprice").cast("double").alias("price"),
                    )
                )
            ).alias("s")
        )
        .select(
            "o_custkey",
            F.col("s.o_orderkey").alias("keys"),
            F.col("s.price").alias("prices"),
        )
    )
    return spark.sql(
        """
        WITH RECURSIVE chain (o_custkey, keys, prices, step, cum) AS (
          SELECT o_custkey, keys, prices, 1, ROUND(prices[0], 2)
          FROM {view}
          UNION ALL
          SELECT o_custkey, keys, prices, step + 1,
                 ROUND(cum + prices[step], 2)
          FROM chain WHERE step < size(prices)
        )
        SELECT o_custkey, keys[step - 1] AS o_orderkey,
               CAST(step AS INT) AS step, ROUND(cum, 2) AS cum_spend
        FROM chain
        """,
        view=chains,
    )

@query(
    "recursive_cte_event_paths",
    oracle="""
    WITH RECURSIVE ev AS (
      SELECT user_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    paths (user_id, path, depth) AS (
      SELECT user_id, event_type, 1 FROM ev WHERE rn = 1
      UNION ALL
      SELECT e.user_id, p.path || '>' || e.event_type, p.depth + 1
      FROM paths p JOIN ev e
        ON e.user_id = p.user_id AND e.rn = p.depth + 1
      WHERE p.depth < 5
    )
    SELECT CAST(depth AS INT) AS depth, path,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM paths
    GROUP BY depth, path
    HAVING COUNT(*) >= 5
    """,
)
def recursive_cte_event_paths(spark, sf_dir):
    """Event-path enumeration via WITH RECURSIVE: the anchor keeps each
    user's first five event types (a row_number <= 5 that Spark plans as
    a WindowGroupLimit, run once) as an array in (ts, event_id) order,
    and level ``depth`` appends ``types[depth]`` from its own row. Each
    recursion row carries that array (at most five entries) instead of
    joining back to the ranked events every level."""
    from pyspark.sql import Window

    t = tables(spark, sf_dir)
    firsts = (
        t["events"]
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy("ts", "event_id")
            ),
        )
        .where(F.col("rn") <= 5)
        .groupBy("user_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("rn", "event_type"))
            ).alias("s")
        )
        .select("user_id", F.col("s.event_type").alias("types"))
    )
    return spark.sql(
        """
        WITH RECURSIVE paths (user_id, types, path, depth) AS (
          SELECT user_id, types, types[0], 1
          FROM {view}
          UNION ALL
          SELECT user_id, types, path || '>' || types[depth], depth + 1
          FROM paths WHERE depth < size(types)
        )
        SELECT CAST(depth AS INT) AS depth, path,
               CAST(COUNT(*) AS BIGINT) AS n_users
        FROM paths
        GROUP BY depth, path
        HAVING COUNT(*) >= 5
        """,
        view=firsts,
    )


# ---------------------------------------------------------------------------
# Classic warehouse analytics compositions — RFM segmentation and
# market-basket association rules (support / confidence / lift), the
# two mining workloads every retail deployment of the reference runs as
# plain SQL pipelines.
# ---------------------------------------------------------------------------

sql_query(
    "market_basket_lift",
    # one self-join inside the order key (pairs bounded by basket size),
    # quantized-integer confidence/lift via FLOOR of exact-double ratios
    """
    WITH items AS (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    n AS (SELECT COUNT(DISTINCT o) AS n_orders FROM items),
    ip AS (SELECT p, COUNT(*) AS c FROM items GROUP BY p),
    pairs AS (
      SELECT a.p AS p1, b.p AS p2, COUNT(*) AS c_ab
      FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
      GROUP BY a.p, b.p
      HAVING COUNT(*) >= 3)
    SELECT p1, p2, CAST(c_ab AS BIGINT) AS c_ab,
           CAST(FLOOR(c_ab * 1.0 * n_orders * 1000000 / (ca.c * cb.c))
                AS BIGINT) AS lift_q,
           CAST(FLOOR(c_ab * 1000000.0 / ca.c) AS BIGINT) AS conf_q
    FROM pairs
    JOIN ip ca ON ca.p = pairs.p1
    JOIN ip cb ON cb.p = pairs.p2
    CROSS JOIN n
    """,
)


@query(
    "rfm_customer_segments",
    # the distributed-NTILE formula replayed literally: global rank over
    # (value ASC, custkey ASC), tile = ((rank-1)*4)//total + 1, score =
    # 5 - tile (1 = best); integer-cent monetary keeps sums exact
    oracle="""
    WITH m AS (
      SELECT o_custkey,
             MAX(o_orderdate) AS last_order,
             CAST(COUNT(*) AS BIGINT) AS frequency,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
               AS monetary_cents
      FROM orders GROUP BY o_custkey),
    tot AS (SELECT COUNT(*) AS t FROM m),
    s AS (
      SELECT m.*,
             ROW_NUMBER() OVER (ORDER BY last_order, o_custkey) AS rr,
             ROW_NUMBER() OVER (ORDER BY frequency, o_custkey) AS rf,
             ROW_NUMBER() OVER (ORDER BY monetary_cents, o_custkey) AS rm
      FROM m),
    sc AS (
      SELECT o_custkey, last_order, frequency, monetary_cents,
             5 - CAST(((rr - 1) * 4) // t + 1 AS INT) AS r_score,
             5 - CAST(((rf - 1) * 4) // t + 1 AS INT) AS f_score,
             5 - CAST(((rm - 1) * 4) // t + 1 AS INT) AS m_score
      FROM s CROSS JOIN tot)
    SELECT *,
           CASE WHEN r_score = 1 AND f_score = 1 THEN 'champion'
                WHEN r_score = 1 THEN 'recent'
                WHEN f_score = 1 THEN 'loyal'
                WHEN r_score = 4 AND f_score = 4 THEN 'at_risk'
                ELSE 'regular' END AS segment
    FROM sc
    """,
)
def rfm_customer_segments(spark, sf_dir):
    """RFM customer segmentation (recency / frequency / monetary
    quartiles, score 1 = best) — quartiles via the scale-safe two-pass
    distributed NTILE (no single-partition global sort; the oracle
    replays its explicit ((rank-1)*4)//total + 1 formula), integer-cent
    money, deterministic custkey tie-breaks."""
    from flink_psl_spark.llm.sampling import distributed_ntile

    t = tables(spark, sf_dir)
    m = (
        t["orders"]
        .groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count("*").cast("bigint").alias("frequency"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("bigint")
            .alias("monetary_cents"),
        )
        .withColumn(
            "__epoch",
            F.datediff("last_order", F.lit("1970-01-01").cast("date")),
        )
    )
    # chained ntile passes don't compound: distributed_ntile materializes
    # its input once per pass (see its docstring)
    r = distributed_ntile(
        m, "__epoch", "o_custkey", n_tiles=4, out_col="__rt",
        bin_col=F.floor(F.col("__epoch") / 32),
    )
    r = distributed_ntile(
        r, "frequency", "o_custkey", n_tiles=4, out_col="__ft",
    )
    r = distributed_ntile(
        r, "monetary_cents", "o_custkey", n_tiles=4, out_col="__mt",
        bin_col=F.floor(F.col("monetary_cents") / 1_000_000),
    )
    scored = r.select(
        "o_custkey", "last_order", "frequency", "monetary_cents",
        (F.lit(5) - F.col("__rt")).cast("int").alias("r_score"),
        (F.lit(5) - F.col("__ft")).cast("int").alias("f_score"),
        (F.lit(5) - F.col("__mt")).cast("int").alias("m_score"),
    )
    return scored.withColumn(
        "segment",
        F.when((F.col("r_score") == 1) & (F.col("f_score") == 1),
               F.lit("champion"))
        .when(F.col("r_score") == 1, F.lit("recent"))
        .when(F.col("f_score") == 1, F.lit("loyal"))
        .when((F.col("r_score") == 4) & (F.col("f_score") == 4),
              F.lit("at_risk"))
        .otherwise(F.lit("regular")),
    )


sql_query(
    "funnel_conversion_report",
    # strictly-ordered funnel (first view -> first later click -> first
    # later purchase per user); quantized-integer conversion rates
    """
    WITH v AS (SELECT user_id, MIN(ts) AS t0 FROM events
               WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, MIN(e.ts) AS t1
          FROM events e JOIN v ON e.user_id = v.user_id
          WHERE e.event_type = 'click' AND e.ts > v.t0
          GROUP BY e.user_id),
    p AS (SELECT e.user_id, MIN(e.ts) AS t2
          FROM events e JOIN c ON e.user_id = c.user_id
          WHERE e.event_type = 'purchase' AND e.ts > c.t1
          GROUP BY e.user_id),
    n AS (SELECT (SELECT COUNT(*) FROM v) AS n_view,
                 (SELECT COUNT(*) FROM c) AS n_click,
                 (SELECT COUNT(*) FROM p) AS n_purchase)
    SELECT CAST(n_view AS BIGINT) AS n_view,
           CAST(n_click AS BIGINT) AS n_click,
           CAST(n_purchase AS BIGINT) AS n_purchase,
           CAST(FLOOR(n_click * 1000000.0 / n_view) AS BIGINT)
             AS view_to_click_q,
           CAST(FLOOR(n_purchase * 1000000.0 / n_click) AS BIGINT)
             AS click_to_purchase_q
    FROM n
    """,
)


@query(
    "cohort_retention_matrix",
    # week index = floor(days-since-Monday-epoch / 7); cohort = each
    # user's first active week; matrix cell = distinct users of cohort
    # cw active at offset (w - cw)
    oracle="""
    WITH uw AS (
      SELECT DISTINCT user_id,
             (CAST(ts AS DATE) - DATE '1970-01-05') // 7 AS w
      FROM events),
    co AS (SELECT user_id, MIN(w) AS cw FROM uw GROUP BY user_id)
    SELECT CAST(co.cw AS BIGINT) AS cohort_week,
           CAST(uw.w - co.cw AS BIGINT) AS week_offset,
           CAST(COUNT(DISTINCT uw.user_id) AS BIGINT) AS n_users
    FROM uw JOIN co USING (user_id)
    GROUP BY 1, 2
    """,
)
def cohort_retention_matrix(spark, sf_dir):
    """Cohort retention: users grouped by first-active ISO week, counted
    in each subsequent week offset — the product-analytics matrix every
    warehouse computes. Two hash aggregations and one user-keyed join;
    week indices are explicit integer arithmetic (Monday epoch), so both
    engines agree exactly."""
    t = tables(spark, sf_dir)
    wk = F.floor(
        F.datediff(
            F.col("ts").cast("date"), F.lit("1970-01-05").cast("date")
        )
        / 7
    ).cast("bigint")
    uw = t["events"].select("user_id", wk.alias("w")).distinct()
    co = uw.groupBy("user_id").agg(F.min("w").alias("cw"))
    return (
        uw.join(co, on="user_id")
        .groupBy(
            F.col("cw").alias("cohort_week"),
            (F.col("w") - F.col("cw")).alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").cast("bigint").alias("n_users"))
    )


sql_query(
    "timeseries_seasonality_report",
    # hour-of-day profile per event type + an exact integer uniformity
    # statistic: SUM((24c - n)^2) over the 24 buckets (the chi-square
    # numerator scaled by 24^2 — zero iff perfectly flat)
    """
    WITH h AS (
      SELECT event_type, CAST(HOUR(ts) AS INT) AS hod, COUNT(*) AS c
      FROM events GROUP BY event_type, CAST(HOUR(ts) AS INT)),
    t AS (SELECT event_type, SUM(c) AS n FROM h GROUP BY event_type)
    SELECT h.event_type, hod, CAST(c AS BIGINT) AS n_events,
           CAST(SUM((24 * c - n) * (24 * c - n))
                OVER (PARTITION BY h.event_type) AS BIGINT) AS dev2_total
    FROM h JOIN t ON t.event_type = h.event_type
    """,
)


sql_query(
    "yoy_revenue_growth",
    # per-segment year-over-year growth in quantized integer parts-per-
    # million; integer-cent revenue keeps sums exact, LAG gives NULL
    # growth for each segment's first year
    """
    WITH r AS (
      SELECT c_mktsegment AS segment,
             CAST(YEAR(o_orderdate) AS INT) AS yr,
             CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                           AS BIGINT)) AS BIGINT) AS rev_cents
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment, CAST(YEAR(o_orderdate) AS INT)),
    g AS (
      SELECT segment, yr, rev_cents,
             LAG(rev_cents) OVER (PARTITION BY segment ORDER BY yr) AS prev
      FROM r)
    SELECT segment, yr, rev_cents,
           CAST(FLOOR((rev_cents - prev) * 1000000.0 / prev) AS BIGINT)
             AS growth_q
    FROM g
    """,
)


sql_query(
    "pareto_abc_classification",
    # ABC inventory classes per part type: A while the PRIOR cumulative
    # share is under 80%, B under 95%, else C — all comparisons exact
    # integer cross-multiplications over integer-cent revenue; windows
    # shuffle on the type key, never globally
    """
    WITH r AS (
      SELECT p_type, l_partkey,
             CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                           AS BIGINT)) AS BIGINT) AS rev_cents
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY p_type, l_partkey),
    w AS (
      SELECT p_type, l_partkey, rev_cents,
             SUM(rev_cents) OVER (
               PARTITION BY p_type ORDER BY rev_cents DESC, l_partkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(rev_cents) OVER (PARTITION BY p_type) AS tot
      FROM r)
    SELECT p_type, l_partkey, rev_cents,
           CASE WHEN (cum - rev_cents) * 5 < tot * 4 THEN 'A'
                WHEN (cum - rev_cents) * 20 < tot * 19 THEN 'B'
                ELSE 'C' END AS abc_class
    FROM w
    """,
)
