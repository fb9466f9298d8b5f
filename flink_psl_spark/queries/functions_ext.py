"""Extended function-surface inventory (SURVEY §2.8 batch 2 + §2.10 UDF).

Covers: first/last-value aggregates (arg-min/max), the remaining string /
math / temporal built-ins, positional explode (Correlate/UNNEST with
ordinality), pandas UDF and Python UDTF execution (the reference's PyFlink
udf/udtf surface — §2.10), each under a DuckDB oracle.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import functions as F

from flink_psl_spark.grouped import grouped_map
from flink_psl_spark.queries.registry import query, sql_query, tables

# ---------------------------------------------------------------------------
# FirstValue/LastValue aggregates (reference functions/aggregate/
# FirstValueAggFunction.java, LastValueAggFunction.java) — deterministic
# arg-min/arg-max form (accumulation order is explicit, not arrival order)
# ---------------------------------------------------------------------------


@query(
    "agg_first_last_value",
    oracle="""
    SELECT user_id,
           ARG_MIN(event_id, ts) AS first_event,
           ARG_MAX(event_id, ts) AS last_event,
           ARG_MIN(value, ts)    AS first_value,
           ARG_MAX(value, ts)    AS last_value
    FROM events GROUP BY user_id
    """,
)
def agg_first_last_value(spark, sf_dir):
    """FIRST_VALUE/LAST_VALUE aggs as min_by/max_by on event time. The
    events fixture has unique ts per user (verified), so ties need no
    secondary key."""
    t = tables(spark, sf_dir)
    return (
        t["events"]
        .groupBy("user_id")
        .agg(
            F.min_by("event_id", "ts").alias("first_event"),
            F.max_by("event_id", "ts").alias("last_event"),
            F.min_by("value", "ts").alias("first_value"),
            F.max_by("value", "ts").alias("last_value"),
        )
    )


# ---------------------------------------------------------------------------
# String surface, batch 2
# ---------------------------------------------------------------------------

sql_query(
    "string_functions2",
    """
    SELECT p_partkey,
           INITCAP(p_type)                          AS ic,
           TRANSLATE(p_brand, '#', '_')             AS tr,
           CONTAINS(p_type, 'BRASS')                AS has_brass,
           STARTSWITH(p_type, 'STANDARD')           AS sw,
           ENDSWITH(p_type, 'TIN')                  AS ew,
           REGEXP_EXTRACT(p_type, '[A-Z]+$', 0)     AS last_word,
           LEVENSHTEIN(p_brand, 'Brand#11')         AS lev,
           OVERLAY(p_brand, 'XX', 2)                AS ov,
           FORMAT_STRING('%s/%d', p_brand, p_size)  AS fmt
    FROM part WHERE p_partkey <= 300
    """,
    oracle="""
    SELECT p_partkey,
           -- duckdb has no INITCAP; reconstruct per-word
           ARRAY_TO_STRING(LIST_TRANSFORM(STRING_SPLIT(LOWER(p_type), ' '),
               w -> UPPER(w[1]) || w[2:]), ' ')     AS ic,
           REPLACE(p_brand, '#', '_')               AS tr,
           CONTAINS(p_type, 'BRASS')                AS has_brass,
           STARTS_WITH(p_type, 'STANDARD')          AS sw,
           ENDS_WITH(p_type, 'TIN')                 AS ew,
           COALESCE(REGEXP_EXTRACT(p_type, '[A-Z]+$', 0), '') AS last_word,
           CAST(LEVENSHTEIN(p_brand, 'Brand#11') AS INTEGER) AS lev,
           p_brand[1] || 'XX' || p_brand[4:]        AS ov,
           FORMAT('{}/{}', p_brand, p_size)         AS fmt
    FROM part WHERE p_partkey <= 300
    """,
)

# ---------------------------------------------------------------------------
# Math surface, batch 2 (trig / conversions / bit ops)
# ---------------------------------------------------------------------------

sql_query(
    "math_functions2",
    """
    SELECT l_orderkey, l_linenumber,
           ROUND(SIN(l_quantity), 6)  AS s,
           ROUND(COS(l_quantity), 6)  AS c,
           ROUND(ATAN2(l_quantity, 7.0), 6) AS a2,
           ROUND(DEGREES(l_discount), 6)    AS deg,
           ROUND(RADIANS(l_quantity), 6)    AS rad,
           ROUND(EXP(l_discount), 6)        AS ex,
           ROUND(CBRT(l_extendedprice), 6)  AS cb,
           CAST(l_quantity AS BIGINT) & 15  AS band,
           CAST(l_quantity AS BIGINT) | 16  AS bor,
           CAST(l_quantity AS BIGINT) ^ 5   AS bxor,
           HEX(CAST(l_quantity AS BIGINT))  AS hx,
           BIN(CAST(l_quantity AS BIGINT))  AS bn,
           PI()                              AS pi_
    FROM lineitem WHERE l_orderkey <= 300
    """,
    oracle="""
    SELECT l_orderkey, l_linenumber,
           ROUND(SIN(l_quantity), 6)  AS s,
           ROUND(COS(l_quantity), 6)  AS c,
           ROUND(ATAN2(l_quantity, 7.0), 6) AS a2,
           ROUND(DEGREES(l_discount), 6)    AS deg,
           ROUND(RADIANS(l_quantity), 6)    AS rad,
           ROUND(EXP(l_discount), 6)        AS ex,
           ROUND(CBRT(l_extendedprice), 6)  AS cb,
           CAST(l_quantity AS BIGINT) & 15  AS band,
           CAST(l_quantity AS BIGINT) | 16  AS bor,
           XOR(CAST(l_quantity AS BIGINT), 5::BIGINT) AS bxor,
           LTRIM(HEX(CAST(l_quantity AS BIGINT)), '0') AS hx,
           BIN(CAST(l_quantity AS BIGINT))  AS bn,
           PI()                              AS pi_
    FROM lineitem WHERE l_orderkey <= 300
    """,
)

# Inverse trig + sign + CHAR_LENGTH + population variance/stddev
# (BuiltInFunctionDefinitions: acos/asin/atan/sign/charLength/varPop/
# stddevPop). SHA224/SHA384/SHA512 from the same surface have no DuckDB
# counterpart — they are hashlib-parity unit tests instead
# (tests/test_functions.py). RAND_INTEGER stays intentionally unmapped:
# it draws from one sequential java.util.Random per operator instance,
# which is order-dependent and non-replayable in any distributed engine
# (Flink itself documents it non-deterministic).
sql_query(
    "math_functions3",
    """
    SELECT l_orderkey, l_linenumber,
           ROUND(ACOS(l_discount), 6)  AS ac,
           ROUND(ASIN(l_discount), 6)  AS asn,
           ROUND(ATAN(l_quantity), 6)  AS at,
           CAST(SIGN(l_quantity - 25) AS INT) AS sg,
           CHAR_LENGTH(REPEAT(l_returnflag,
                               CAST(l_quantity AS INT))) AS cl,
           ROUND(VAR_POP(l_quantity)
                 OVER (PARTITION BY l_returnflag), 6)    AS vp,
           ROUND(STDDEV_POP(l_quantity)
                 OVER (PARTITION BY l_returnflag), 6)    AS sp
    FROM lineitem WHERE l_orderkey <= 300
    """,
    oracle="""
    SELECT l_orderkey, l_linenumber,
           ROUND(ACOS(l_discount), 6)  AS ac,
           ROUND(ASIN(l_discount), 6)  AS asn,
           ROUND(ATAN(l_quantity), 6)  AS at,
           CAST(SIGN(l_quantity - 25) AS INT) AS sg,
           CAST(LENGTH(REPEAT(l_returnflag,
                               CAST(l_quantity AS INT))) AS INT) AS cl,
           ROUND(VAR_POP(l_quantity)
                 OVER (PARTITION BY l_returnflag), 6)    AS vp,
           ROUND(STDDEV_POP(l_quantity)
                 OVER (PARTITION BY l_returnflag), 6)    AS sp
    FROM lineitem WHERE l_orderkey <= 300
    """,
)

# ---------------------------------------------------------------------------
# Temporal surface, batch 2
# ---------------------------------------------------------------------------

sql_query(
    "temporal_functions2",
    """
    SELECT o_orderkey,
           QUARTER(o_orderdate)                        AS q,
           DAYOFYEAR(o_orderdate)                      AS doy,
           WEEKOFYEAR(o_orderdate)                     AS woy,
           LAST_DAY(CAST(o_orderdate AS DATE))         AS ld,
           ADD_MONTHS(CAST(o_orderdate AS DATE), 2)    AS am,
           CAST(MONTHS_BETWEEN(TIMESTAMP '2025-06-15 00:00:00',
                               o_orderdate) AS INT)    AS mb_floor,
           TIMESTAMPDIFF(HOUR, o_orderdate,
                         TIMESTAMP '2025-01-01 00:00:00') AS hrs,
           UNIX_TIMESTAMP(o_orderdate)                 AS epoch_s,
           DATE_ADD(CAST(o_orderdate AS DATE), 45)     AS da
    FROM orders WHERE o_orderkey <= 400
    """,
    oracle="""
    SELECT o_orderkey,
           CAST(QUARTER(o_orderdate) AS INT)           AS q,
           CAST(DAYOFYEAR(o_orderdate) AS INT)         AS doy,
           CAST(WEEKOFYEAR(o_orderdate) AS INT)        AS woy,
           LAST_DAY(CAST(o_orderdate AS DATE))         AS ld,
           CAST(CAST(o_orderdate AS DATE) + INTERVAL '2 months' AS DATE) AS am,
           CAST(FLOOR(DATE_DIFF('month', o_orderdate,
                TIMESTAMP '2025-06-15 00:00:00')
                - CASE WHEN (EXTRACT(DAY FROM o_orderdate) > 15
                        OR (EXTRACT(DAY FROM o_orderdate) = 15
                            AND o_orderdate::TIME > TIME '00:00:00'))
                       THEN 1 ELSE 0 END) AS INT)      AS mb_floor,
           CAST(DATE_DIFF('hour', o_orderdate,
                TIMESTAMP '2025-01-01 00:00:00') AS BIGINT) AS hrs,
           CAST(EPOCH(o_orderdate) AS BIGINT)          AS epoch_s,
           CAST(o_orderdate AS DATE) + 45              AS da
    FROM orders WHERE o_orderkey <= 400
    """,
)

# Output-typing discipline (tpch_suite.py "float discipline", applied here
# after the r5 driver hash-red): TRY_TO_NUMBER yields DECIMAL(2,0), whose
# pandas rendering differs between Spark (decimal.Decimal) and DuckDB
# (float64) even when values are bit-identical — so cast `tn` to INT on
# BOTH sides (TRY_TO_NUMBER itself stays in the expression, still
# exercised) and round `td` to 6 places for stable float canonicalization.
sql_query(
    "try_functions",
    """
    SELECT l_orderkey, l_linenumber,
           ROUND(TRY_DIVIDE(l_extendedprice, l_quantity - 25), 6) AS td,
           TRY_CAST(CONCAT('x', CAST(l_linenumber AS STRING)) AS INT) AS bad_int,
           TRY_CAST(CAST(CAST(l_quantity AS BIGINT) AS STRING) AS INT) AS ok_int,
           CAST(TRY_TO_NUMBER(CAST(CAST(l_quantity AS BIGINT) AS STRING), '99')
                AS INT) AS tn
    FROM lineitem WHERE l_orderkey <= 300
    """,
    oracle="""
    SELECT l_orderkey, l_linenumber,
           ROUND(CASE WHEN l_quantity = 25 THEN NULL
                ELSE l_extendedprice / (l_quantity - 25) END, 6) AS td,
           TRY_CAST(CONCAT('x', CAST(l_linenumber AS VARCHAR)) AS INT) AS bad_int,
           TRY_CAST(CAST(CAST(l_quantity AS BIGINT) AS VARCHAR) AS INT) AS ok_int,
           CAST(CASE WHEN l_quantity < 100
                THEN CAST(CAST(l_quantity AS BIGINT) AS DECIMAL(2,0)) END
                AS INT) AS tn
    FROM lineitem WHERE l_orderkey <= 300
    """,
)

# ---------------------------------------------------------------------------
# Positional explode (UNNEST WITH ORDINALITY ≈ Correlate, §2.2)
# ---------------------------------------------------------------------------


@query(
    "posexplode_words",
    oracle="""
    SELECT doc_id, words[i] AS word, CAST(i - 1 AS INT) AS pos
    FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS words
          FROM documents WHERE doc_id < 50),
         UNNEST(RANGE(1, LEN(words) + 1)) AS t(i)
    """,
)
def posexplode_words(spark, sf_dir):
    """posexplode (UNNEST WITH ORDINALITY; reference $UNNEST_ROWS$ +
    Correlate ordinality)."""
    t = tables(spark, sf_dir)
    return (
        t["documents"]
        .where(F.col("doc_id") < 50)
        .select("doc_id", F.posexplode(F.split("text", " ")).alias("pos", "word"))
        .select("doc_id", "word", "pos")
    )


# ---------------------------------------------------------------------------
# Pandas UDF + Python UDTF (reference §2.10 PyFlink udf/udtf — PySpark is
# the same Arrow-batched execution model, SURVEY §3.3)
# ---------------------------------------------------------------------------


@query(
    "cogroup_user_summary",
    oracle="""
    WITH c AS (SELECT user_id, COUNT(*) AS n_clicks, ROUND(SUM(value), 3) AS click_v
               FROM events WHERE event_type = 'click' GROUP BY user_id),
         p AS (SELECT user_id, COUNT(*) AS n_purch, ROUND(SUM(value), 3) AS purch_v
               FROM events WHERE event_type = 'purchase' GROUP BY user_id)
    SELECT COALESCE(c.user_id, p.user_id) AS user_id,
           COALESCE(n_clicks, 0) AS n_clicks,
           COALESCE(click_v, 0.0) AS click_v,
           COALESCE(n_purch, 0) AS n_purch,
           COALESCE(purch_v, 0.0) AS purch_v
    FROM c FULL JOIN p ON c.user_id = p.user_id
    """,
)
def cogroup_user_summary(spark, sf_dir):
    """co-group (reference DataStream.coGroup:720 / CoGroupedStreams):
    both keyed sides of a key visit one function together. One scan of
    ``events`` tags each row with its side; :func:`grouped_map` hands the
    function each user's rows and the function splits the sides."""
    t = tables(spark, sf_dir)
    events = t["events"].where(
        F.col("event_type").isin("click", "purchase")
    ).select("user_id", "value", (F.col("event_type") == "click").alias("__click"))

    def summarize(pdf: pd.DataFrame) -> pd.DataFrame:
        # dict-of-tuples construction: ~1.4x cheaper per group than the
        # list-of-dict form, and this function runs once per key
        click = pdf["__click"].to_numpy()
        left, right = pdf["value"][click], pdf["value"][~click]
        return pd.DataFrame(
            {
                "user_id": (pdf["user_id"].iat[0],),
                "n_clicks": (len(left),),
                "click_v": (round(float(left.sum()), 3) if len(left) else 0.0,),
                "n_purch": (len(right),),
                "purch_v": (round(float(right.sum()), 3) if len(right) else 0.0,),
            }
        )

    return grouped_map(
        events,
        "user_id",
        summarize,
        "user_id long, n_clicks long, click_v double, "
        "n_purch long, purch_v double",
    )


@query(
    "udtaf_top2_per_group",
    oracle="""
    SELECT c_nationkey, c_custkey, c_acctbal, CAST(rk AS INT) AS rk FROM (
      SELECT c_nationkey, c_custkey, c_acctbal,
             ROW_NUMBER() OVER (PARTITION BY c_nationkey
                                ORDER BY c_acctbal DESC, c_custkey) AS rk
      FROM customer) t
    WHERE rk <= 2
    """,
)
def udtaf_top2_per_group(spark, sf_dir):
    """Table aggregate / UDTAF (reference TableAggregateFunction.java:157,
    Top2Accumulator example; PyFlink udtaf:709): a group aggregate that
    EMITS MULTIPLE ROWS per group — a :func:`grouped_map` whose function
    returns a group's first two rows in rank order."""
    t = tables(spark, sf_dir)

    def top2(pdf: pd.DataFrame) -> pd.DataFrame:
        top = pdf.head(2)
        return top.assign(rk=range(1, len(top) + 1))

    return grouped_map(
        t["customer"].select("c_nationkey", "c_custkey", "c_acctbal"),
        "c_nationkey",
        top2,
        "c_nationkey int, c_custkey long, c_acctbal double, rk int",
        order=[F.col("c_acctbal").desc(), "c_custkey"],
    )


@query(
    "udf_pandas_scalar",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           ROUND(l_extendedprice * (1 - l_discount) * (1 + l_tax), 2) AS charged,
           CASE WHEN l_quantity >= 25 THEN 'bulk' ELSE 'retail' END AS kind
    FROM lineitem WHERE l_orderkey <= 500
    """,
)
def udf_pandas_scalar(spark, sf_dir):
    """Arrow-batched pandas scalar UDF (reference ScalarFunction + PyFlink
    pandas udf, udf.py:572). Vectorized over Arrow batches — the supported
    shape for Python logic on the hot path."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def charge(p: pd.Series, d: pd.Series, tx: pd.Series) -> pd.Series:
        # half-away-from-zero rounding to match SQL ROUND (pandas
        # .round is half-even); prices are positive
        import numpy as np

        v = p * (1 - d) * (1 + tx)
        return pd.Series(np.floor(v * 100 + 0.5) / 100)

    @pandas_udf("string")
    def kind(q: pd.Series) -> pd.Series:
        return pd.Series(["bulk" if x >= 25 else "retail" for x in q])

    t = tables(spark, sf_dir)
    li = t["lineitem"].where(F.col("l_orderkey") <= 500)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        charge("l_extendedprice", "l_discount", "l_tax").alias("charged"),
        kind("l_quantity").alias("kind"),
    )


@query(
    "udaf_pandas_grouped",
    oracle="""
    SELECT l_returnflag,
           ROUND(SUM(l_extendedprice * l_quantity) / SUM(l_quantity), 6)
             AS wavg_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def udaf_pandas_grouped(spark, sf_dir):
    """Grouped-agg pandas UDF (reference AggregateFunction.java:193 /
    PyFlink udaf:667): weighted average as a custom UDAF."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def wavg(price: pd.Series, qty: pd.Series) -> float:
        return float((price * qty).sum() / qty.sum())

    t = tables(spark, sf_dir)
    return (
        t["lineitem"]
        .groupBy("l_returnflag")
        .agg(F.round(wavg("l_extendedprice", "l_quantity"), 6).alias("wavg_price"))
    )


@query(
    "udtf_lateral",
    oracle="""
    SELECT doc_id, word, CAST(LEN(word) AS INT) AS wlen
    FROM (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS word
          FROM documents WHERE doc_id < 20) t
    WHERE LEN(word) >= 6
    """,
)
def udtf_lateral(spark, sf_dir):
    """Python UDTF in a lateral join (reference TableFunction.java:136 /
    PyFlink udtf:627; SQL CROSS JOIN LATERAL TABLE(f(x)))."""
    from pyspark.sql.functions import lit, udtf

    @udtf(returnType="word: string, wlen: int")
    class LongWords:
        def eval(self, text: str, min_len: int):
            for w in (text or "").split(" "):
                if len(w) >= min_len:
                    yield w, len(w)

    spark.udtf.register("long_words", LongWords)
    t = tables(spark, sf_dir)
    docs = t["documents"].where(F.col("doc_id") < 20)
    return docs.lateralJoin(
        LongWords(F.col("text").outer(), lit(6).outer())
    ).select("doc_id", "word", "wlen")


# ---------------------------------------------------------------------------
# TEMPORAL_OVERLAPS (reference BuiltInFunctionDefinitions.temporalOverlaps,
# planned via TemporalOverlapsConverter.java: normalize endpoints then
# (e0 >= s1) AND (e1 >= s0), inclusive)
# ---------------------------------------------------------------------------


@query(
    "temporal_overlaps_fn",
    oracle="""
    SELECT o_orderkey,
           (GREATEST(o_orderdate, o_orderdate + INTERVAL '30 days')
              >= LEAST(TIMESTAMP '1997-03-01 00:00:00',
                       TIMESTAMP '1997-06-01 00:00:00')
            AND GREATEST(TIMESTAMP '1997-03-01 00:00:00',
                         TIMESTAMP '1997-06-01 00:00:00')
              >= LEAST(o_orderdate, o_orderdate + INTERVAL '30 days'))
             AS hits_q2_window
    FROM orders WHERE o_orderkey <= 500
    """,
)
def temporal_overlaps_fn(spark, sf_dir):
    """TEMPORAL_OVERLAPS via both surfaces: the Column shim builds the
    predicate; the SQL-registered function is exercised in tests."""
    from flink_psl_spark.functions import temporal_overlaps

    t = tables(spark, sf_dir)
    return (
        t["orders"]
        .where(F.col("o_orderkey") <= 500)
        .select(
            "o_orderkey",
            temporal_overlaps(
                F.col("o_orderdate"),
                F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"),
                F.lit("1997-03-01 00:00:00").cast("timestamp"),
                F.lit("1997-06-01 00:00:00").cast("timestamp"),
            ).alias("hits_q2_window"),
        )
    )


# ---------------------------------------------------------------------------
# Scalar surface, batch 3: the stragglers (reference
# BuiltInFunctionDefinitions: TYPEOF :104, IFNULL :122, rpad :!, cot :1296)
# ---------------------------------------------------------------------------

sql_query(
    "string_functions3",
    """
    SELECT p_partkey,
           RPAD(p_brand, 12, '*')                     AS padded,
           IFNULL(NULLIF(p_type, 'PROMO'), 'n/a')     AS type_or_na,
           ROUND(COT(CAST(p_size AS DOUBLE)), 6)      AS cot_size
    FROM part WHERE p_partkey <= 300
    """,
    oracle="""
    SELECT p_partkey,
           RPAD(p_brand, 12, '*')                     AS padded,
           COALESCE(NULLIF(p_type, 'PROMO'), 'n/a')   AS type_or_na,
           ROUND(COT(CAST(p_size AS DOUBLE)), 6)      AS cot_size
    FROM part WHERE p_partkey <= 300
    """,
)


@query(
    "typeof_fn",
    # both engines' runtime type names collapse onto a shared canonical
    # vocabulary (lowercase, varchar→string), making the check exact
    oracle="""
    SELECT DISTINCT
      REPLACE(LOWER(TYPEOF(p_partkey)), 'varchar', 'string') AS t_key,
      REPLACE(LOWER(TYPEOF(p_brand)), 'varchar', 'string') AS t_brand,
      REPLACE(LOWER(TYPEOF(p_retailprice)), 'varchar', 'string') AS t_price
    FROM part WHERE p_partkey <= 10
    """,
)
def typeof_fn(spark, sf_dir):
    """TYPEOF (reference BuiltInFunctionDefinitions :104): runtime type
    string of an expression, normalized to a cross-engine vocabulary."""
    t = tables(spark, sf_dir)

    def norm(c: str):
        return F.regexp_replace(
            F.lower(F.expr(f"typeof({c})")), "varchar", "string"
        )

    return (
        t["part"]
        .where(F.col("p_partkey") <= 10)
        .select(
            norm("p_partkey").alias("t_key"),
            norm("p_brand").alias("t_brand"),
            norm("p_retailprice").alias("t_price"),
        )
        .distinct()
    )


# ---------------------------------------------------------------------------
# Python Data Source (FLIP-27 Source parity — sources_v2.py): deterministic
# generation means DuckDB generate_series reproduces the output exactly
# ---------------------------------------------------------------------------


@query(
    "pysource_datagen_agg",
    oracle="""
    SELECT key, COUNT(*) AS n, ROUND(SUM(value), 2) AS total
    FROM (
      SELECT 'k' || CAST(i % 7 AS VARCHAR) AS key,
             (i * 7 % 1000) / 10.0 AS value
      FROM generate_series(0, 1999) t(i))
    GROUP BY key
    """,
)
def pysource_datagen_agg(spark, sf_dir):
    """Batch read through the custom Python data source → aggregate.
    (reference: FLIP-27 Source.java + datagen connector)."""
    from flink_psl_spark.sources_v2 import register_python_sources

    register_python_sources(spark)
    df = spark.read.format("pydatagen").option("n", 2000).load()
    return df.groupBy("key").agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total")
    )


@query(
    "pysource_datagen_pushdown",
    oracle="""
    SELECT CAST(i AS BIGINT) AS id, (i * 7 % 1000) / 10.0 AS value
    FROM generate_series(500, 599) t(i)
    """,
)
def pysource_datagen_pushdown(spark, sf_dir):
    """Filter-pushdown path of the Python data source: the id range is
    absorbed into generation bounds (SupportsFilterPushDown.java:63)."""
    from flink_psl_spark.sources_v2 import register_python_sources

    register_python_sources(spark)
    df = spark.read.format("pydatagen").option("n", 100000).load()
    return df.where((F.col("id") >= 500) & (F.col("id") < 600)).select(
        "id", "value"
    )


sql_query(
    "encode_decode_fn",
    """
    SELECT p_partkey,
           DECODE(ENCODE(p_brand, 'UTF-8'), 'UTF-8') AS roundtrip,
           ASCII(p_brand) AS first_code
    FROM part WHERE p_partkey <= 200
    """,
    oracle="""
    SELECT p_partkey,
           DECODE(ENCODE(p_brand)) AS roundtrip,
           ASCII(p_brand) AS first_code
    FROM part WHERE p_partkey <= 200
    """,
)


# ---------------------------------------------------------------------------
# Array / map / row constructors + higher-order functions (reference
# BuiltInFunctionDefinitions :1560-1622 at/cardinality/array/element/map/row/
# flatten + ARRAY_CONTAINS :154; higher-order: transform/filter/aggregate)
# ---------------------------------------------------------------------------

sql_query(
    "array_map_row_fn",
    """
    SELECT l_orderkey, l_linenumber,
           ARRAY_CONTAINS(ARRAY(l_returnflag, l_linestatus), 'N')  AS has_n,
           ELEMENT_AT(ARRAY(l_quantity, l_discount, l_tax), 1)    AS first_elem,
           SIZE(ARRAY(l_quantity, l_discount, l_tax))             AS card,
           ARRAY_JOIN(TRANSFORM(
               FLATTEN(ARRAY(ARRAY(l_quantity), ARRAY(l_discount))),
               x -> CAST(CAST(x AS DECIMAL(12,2)) AS STRING)), ',') AS flat,
           ELEMENT_AT(MAP('q', l_quantity, 'd', l_discount), 'd') AS map_d,
           NAMED_STRUCT('f', l_returnflag, 's', l_linestatus).f   AS sf,
           ARRAY_JOIN(TRANSFORM(
               TRANSFORM(ARRAY(l_quantity, l_discount), x -> x * 2),
               x -> CAST(CAST(x AS DECIMAL(12,2)) AS STRING)), ',') AS doubled,
           ARRAY_JOIN(TRANSFORM(
               FILTER(ARRAY(l_quantity, l_discount, l_tax), x -> x > 0.04),
               x -> CAST(CAST(x AS DECIMAL(12,2)) AS STRING)), ',') AS pos,
           AGGREGATE(ARRAY(l_quantity, l_discount),
                     CAST(0 AS DOUBLE), (a, x) -> a + x)          AS tot
    FROM lineitem WHERE l_orderkey <= 200
    """,
    oracle="""
    SELECT l_orderkey, l_linenumber,
           list_contains([l_returnflag, l_linestatus], 'N')       AS has_n,
           ([l_quantity, l_discount, l_tax])[1]                   AS first_elem,
           CAST(LEN([l_quantity, l_discount, l_tax]) AS INT)      AS card,
           array_to_string(list_transform(
               FLATTEN([[l_quantity], [l_discount]]),
               x -> CAST(CAST(x AS DECIMAL(12,2)) AS VARCHAR)), ',') AS flat,
           (MAP(['q','d'], [l_quantity, l_discount])['d'])[1]     AS map_d,
           {'f': l_returnflag, 's': l_linestatus}.f               AS sf,
           array_to_string(list_transform(
               list_transform([l_quantity, l_discount], x -> x * 2),
               x -> CAST(CAST(x AS DECIMAL(12,2)) AS VARCHAR)), ',') AS doubled,
           array_to_string(list_transform(
               list_filter([l_quantity, l_discount, l_tax], x -> x > 0.04),
               x -> CAST(CAST(x AS DECIMAL(12,2)) AS VARCHAR)), ',') AS pos,
           list_reduce(list_prepend(CAST(0 AS DOUBLE),
                       [l_quantity, l_discount]), (a, x) -> a + x) AS tot
    FROM lineitem WHERE l_orderkey <= 200
    """,
)


@query(
    "json_functions2",
    oracle="""
    SELECT event_id,
           json_valid(props)                          AS ok,
           json_valid('{nope')                        AS bad,
           json_extract(props, '$.k') IS NOT NULL     AS ex_k,
           json_extract(props, '$.z') IS NOT NULL     AS ex_z,
           CAST(json_extract(props, '$') AS VARCHAR)  AS q_root,
           CAST(NULL AS VARCHAR)                      AS q_scalar,
           to_json({'a': CAST(props->>'$.k' AS INT)}) AS obj,
           to_json([CAST(props->>'$.k' AS INT),
                    CAST(props->>'$.k' AS INT) + 1])  AS arr,
           to_json(CAST(props->>'$.k' AS INT))        AS js_num,
           to_json('ab')                              AS js_str
    FROM events WHERE event_id < 300
    """,
)
def json_functions2(spark, sf_dir):
    """SQL-standard JSON surface (reference BuiltInFunctionDefinitions
    IS_JSON / JSON_EXISTS / JSON_QUERY / JSON_OBJECT / JSON_ARRAY /
    JSON_STRING, SqlJsonUtils.java): the full constructor/predicate/query
    family over the events props column."""
    from pyspark.sql import functions as F

    from flink_psl_spark.functions import (
        is_json,
        json_array,
        json_exists,
        json_object,
        json_query,
        json_string,
    )

    t = tables(spark, sf_dir)
    ev = t["events"].where(F.col("event_id") < 300)
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.select(
        "event_id",
        is_json("props").alias("ok"),
        is_json(F.lit("{nope")).alias("bad"),
        json_exists("props", "$.k").alias("ex_k"),
        json_exists("props", "$.z").alias("ex_z"),
        json_query("props", "$").alias("q_root"),
        json_query("props", "$.k").alias("q_scalar"),
        json_object("a", k).alias("obj"),
        json_array(k, k + 1).alias("arr"),
        json_string(k).alias("js_num"),
        json_string(F.lit("ab")).alias("js_str"),
    )


# Spark-native pass-throughs of reference FlinkSqlOperatorTable names
# (COSH/SINH/TANH/LOG2/RTRIM/SHA2/FROM_UNIXTIME/TO_DATE/TO_TIMESTAMP —
# same spelling and semantics in Spark SQL, so no shim is needed; this
# query PROVES the pass-through claim instead of asserting it).
# SHA1/SHA512 also pass through but DuckDB cannot replicate them; they
# are exercised in tests/test_operators.py instead. Hyperbolics and LOG2
# are replayed via their EXP/LN identities and rounded on both sides.
sql_query(
    "passthrough_functions",
    """
    SELECT l_orderkey, l_linenumber,
           ROUND(COSH(l_discount), 6)  AS ch,
           ROUND(SINH(l_discount), 6)  AS sh,
           ROUND(TANH(l_discount), 6)  AS th,
           ROUND(LOG2(l_quantity), 6)  AS lg2,
           RTRIM(CONCAT(l_returnflag, '  ')) AS rt,
           SHA2(l_returnflag, 256)       AS sha,
           FROM_UNIXTIME(l_orderkey * 3600, 'yyyy-MM-dd HH:mm:ss') AS fu,
           TO_DATE(CAST(l_shipdate AS STRING)) AS td,
           TO_TIMESTAMP(CONCAT(CAST(CAST(l_shipdate AS DATE) AS STRING),
                                ' 06:30:00')) AS tts
    FROM lineitem WHERE l_orderkey <= 300
    """,
    oracle="""
    SELECT l_orderkey, l_linenumber,
           ROUND((EXP(l_discount) + EXP(-l_discount)) / 2, 6) AS ch,
           ROUND((EXP(l_discount) - EXP(-l_discount)) / 2, 6) AS sh,
           ROUND((EXP(l_discount) - EXP(-l_discount))
                 / (EXP(l_discount) + EXP(-l_discount)), 6)   AS th,
           ROUND(LN(l_quantity) / LN(2), 6)                   AS lg2,
           RTRIM(CONCAT(l_returnflag, '  '))                    AS rt,
           SHA256(l_returnflag)                                 AS sha,
           STRFTIME(TO_TIMESTAMP(l_orderkey * 3600),
                    '%Y-%m-%d %H:%M:%S')                      AS fu,
           CAST(l_shipdate AS DATE)                           AS td,
           CAST(CONCAT(CAST(CAST(l_shipdate AS DATE) AS VARCHAR),
                       ' 06:30:00') AS TIMESTAMP)             AS tts
    FROM lineitem WHERE l_orderkey <= 300
    """,
)


@query(
    "table_api_row_ops",
    oracle="""
    SELECT n_nationkey AS pk, UPPER(n_name) AS uname,
           n_regionkey * 10 AS rk10
    FROM nation WHERE n_regionkey <> 2
    """,
)
def table_api_row_ops(spark, sf_dir):
    """Table API row operations through the TableEnvironment facade
    (reference Table.select/filter/addColumns/renameColumns/dropColumns —
    the DataFrame IS the Table here, per the SURVEY design stance): scan
    via from_path, filter, computed column add, rename, drop."""
    from flink_psl_spark.api import TableEnvironment

    t_env = TableEnvironment(spark)
    t_env.register_fixture_tables(sf_dir)
    tbl = t_env.from_path("nation")
    out = (
        tbl.filter(F.col("n_regionkey") != 2)               # Table.filter
        .withColumn("rk10", F.col("n_regionkey") * 10)      # addColumns
        .withColumn("uname", F.upper("n_name"))
        .withColumnRenamed("n_nationkey", "pk")             # renameColumns
        .drop("n_comment", "n_name", "n_regionkey")         # dropColumns
    )
    return out.select("pk", "uname", "rk10")


# ---------------------------------------------------------------------------
# Scalar surface, batch 4: SUM0 + TO_TIMESTAMP_LTZ (reference
# BuiltInFunctionDefinitions sum0; FlinkSqlOperatorTable TO_TIMESTAMP_LTZ)
# ---------------------------------------------------------------------------


@query(
    "sum0_timestamp_ltz_fn",
    # groups where the CASE is all-NULL prove the SUM0-vs-SUM difference
    # (0 instead of NULL); epoch_ms replays TO_TIMESTAMP_LTZ(x, 3)
    oracle="""
    SELECT o_orderpriority,
           COALESCE(SUM(CASE WHEN o_totalprice > 1000000000
                             THEN o_totalprice END), 0) AS sum0_huge,
           ROUND(COALESCE(SUM(CASE WHEN o_totalprice < 1000
                                   THEN o_totalprice END), 0), 2)
             AS sum0_small,
           MIN(epoch_ms(o_orderkey * 1000)) AS first_ts
    FROM orders GROUP BY o_orderpriority
    """,
)
def sum0_timestamp_ltz_fn(spark, sf_dir):
    """SUM0 (empty/all-NULL input → 0, the reference's initialized
    accumulator semantics) and TO_TIMESTAMP_LTZ (epoch millis → instant),
    over per-priority order groups — the >1e9 arm is all-NULL in every
    group, so plain SUM would return NULL and the oracle would not match."""
    from flink_psl_spark.functions.compat import sum0, to_timestamp_ltz

    t = tables(spark, sf_dir)
    o = t["orders"]
    return o.groupBy("o_orderpriority").agg(
        sum0(
            F.when(F.col("o_totalprice") > 1e9, F.col("o_totalprice"))
        ).alias("sum0_huge"),
        F.round(
            sum0(
                F.when(F.col("o_totalprice") < 1000, F.col("o_totalprice"))
            ),
            2,
        ).alias("sum0_small"),
        F.min(to_timestamp_ltz(F.col("o_orderkey") * 1000)).alias(
            "first_ts"
        ),
    )


@query(
    "pysource_stream_datagen_agg",
    oracle="""
    SELECT key, COUNT(*) AS n, ROUND(SUM(value), 2) AS total
    FROM (
      SELECT 'k' || CAST(i % 7 AS VARCHAR) AS key,
             (i * 7 % 1000) / 10.0 AS value
      FROM generate_series(0, 1999) t(i))
    GROUP BY key
    """,
)
def pysource_stream_datagen_agg(spark, sf_dir):
    """STREAMING read through the custom Python data source (FLIP-27
    unbounded mode): the row-count offset advances rowsPerBatch=700 per
    micro-batch, so the 2000-row replay spans multiple offset commits;
    the complete-mode aggregate must still equal the batch truth —
    proving offset continuity (no gap, no replayed overlap) across
    batches, not just single-snapshot reads."""
    import tempfile
    import time
    import uuid

    from flink_psl_spark.sources_v2 import register_python_sources

    register_python_sources(spark)
    st = (
        spark.readStream.format("pydatagen")
        .option("n", 2000)
        .option("rowsPerBatch", 700)
        .load()
    )
    agged = st.groupBy("key").agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total")
    )
    # a rate-limited source needs a processing-time trigger (AvailableNow
    # snapshots the first offset); poll until all 2000 rows are aggregated
    name = f"mem_{uuid.uuid4().hex[:8]}"
    q = (
        agged.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option(
            "checkpointLocation", tempfile.mkdtemp(prefix="fps_pdsq_")
        )
        .trigger(processingTime="100 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            rows = spark.table(name).agg(F.sum("n")).collect()
            if rows and rows[0][0] == 2000:
                break
            time.sleep(0.3)
    finally:
        # record the last micro-batch's plan for the plan-audit sweep (the
        # one registry stream driven by a polling loop instead of
        # run_to_memory_table)
        from flink_psl_spark.streaming.core import _capture_stream_plan

        _capture_stream_plan(q)
        q.stop()
        q.awaitTermination(30)
    return spark.table(name)


@query(
    "pysource_datagen_fields",
    # the md5-uniform 'random' kind replays exactly: h = first 6 hex
    # digits of md5('<field>|<i>'), u = h / 16^6
    oracle="""
    SELECT 100 + i AS uid,
           ROUND((CAST(CONCAT('0x', SUBSTR(MD5('score|' || i), 1, 6))
                       AS BIGINT) / 16777216.0) * 10.0, 6) AS score,
           'tag_' || CAST(CAST(CONCAT('0x', SUBSTR(MD5('tag|' || i), 1, 6))
                               AS BIGINT) % 10000 AS VARCHAR) AS tag
    FROM generate_series(0, 499) t(i)
    """,
)
def pysource_datagen_fields(spark, sf_dir):
    """Configurable datagen fields (reference DataGenTableSourceFactory
    fields.<f>.kind = sequence|random with start/min/max/length): a
    custom schema with a sequence bigint, an md5-uniform random double,
    and a sized random string — deterministic, so the oracle replays the
    exact rows."""
    from flink_psl_spark.sources_v2 import register_python_sources

    register_python_sources(spark)
    df = (
        spark.read.format("pydatagen")
        .option("n", 500)
        .option("schema", "uid bigint, score double, tag string")
        .option("fields.uid.kind", "sequence")
        .option("fields.uid.start", "100")
        .option("fields.score.kind", "random")
        .option("fields.score.min", "0")
        .option("fields.score.max", "10")
        .option("fields.tag.kind", "random")
        .option("fields.tag.length", "4")
        .load()
    )
    return df.select("uid", F.round("score", 6).alias("score"), "tag")
