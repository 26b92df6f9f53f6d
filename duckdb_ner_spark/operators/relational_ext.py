"""Tier C extensions: deeper coverage of the host-engine function surface
(SURVEY.md §2.C families, second pass — cube/grouping sets, distribution
windows, string/regex/date breadth, higher-order list lambdas, statistical
aggregates, percentiles, null-safe comparisons, bag set-ops, sessionization,
time buckets).

Same dialect-parity rules as relational.py. Statistical aggregates are
derived from decimal-exact sums (doubles' summation order differs between
engines); interpolated percentiles are exact arithmetic over identical
operands, hence bit-stable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans.registry import declared
from ..sources.catalog import load_tables


# --------------------------------------------------------------------------
# C14b CUBE
# --------------------------------------------------------------------------
@declared(
    "q_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
           CAST(GROUPING(l_linestatus) AS INT) AS g_status,
           COUNT(*) AS n,
           ROUND(SUM(l_quantity), 2) AS qty
    FROM lineitem
    GROUP BY CUBE(l_returnflag, l_linestatus)
    """,
)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return (
        t.lineitem.cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").cast("int").alias("g_flag"),
            F.grouping("l_linestatus").cast("int").alias("g_status"),
            F.count("*").alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("qty"),
        )
        .select("l_returnflag", "l_linestatus", "g_flag", "g_status", "n", "qty")
    )


# --------------------------------------------------------------------------
# C14c GROUPING SETS (via spark.sql — the SQL-surface form)
# --------------------------------------------------------------------------
@declared(
    "q_grouping_sets",
    oracle="""
    SELECT c_mktsegment, o_orderstatus, COUNT(*) AS n
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY GROUPING SETS ((c_mktsegment), (o_orderstatus), ())
    """,
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    t.orders.createOrReplaceTempView("v_gs_orders")
    t.customer.createOrReplaceTempView("v_gs_customer")
    return spark.sql(
        """
        SELECT c_mktsegment, o_orderstatus, COUNT(*) AS n
        FROM v_gs_orders JOIN v_gs_customer ON o_custkey = c_custkey
        GROUP BY GROUPING SETS ((c_mktsegment), (o_orderstatus), ())
        """
    )


# --------------------------------------------------------------------------
# C18b distribution window functions
# --------------------------------------------------------------------------
@declared(
    "q_window_dist",
    oracle="""
    SELECT o_orderkey, o_custkey,
           PERCENT_RANK() OVER w AS pct_rank,
           CUME_DIST() OVER w AS cume,
           NTH_VALUE(o_totalprice, 2) OVER (PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_price,
           LAST_VALUE(o_totalprice) OVER (PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS min_price
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def q_window_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank/cume_dist are (rank-1)/(n-1)-style divisions of identical
    ints → bit-stable doubles; nth/last_value pinned with explicit frames."""
    t = load_tables(spark, sf_dir)
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return t.orders.select(
        "o_orderkey",
        "o_custkey",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.nth_value("o_totalprice", 2).over(wfull).alias("second_price"),
        F.last("o_totalprice").over(wfull).alias("min_price"),
    )


# --------------------------------------------------------------------------
# C27b string function breadth
# --------------------------------------------------------------------------
@declared(
    "q_string2",
    oracle="""
    SELECT p_partkey,
           LPAD(p_brand, 10, '*') AS padded,
           RPAD(p_brand, 10, '.') AS rpadded,
           REVERSE(p_name) AS rev,
           CAST(STRPOS(p_name, 'o') AS INT) AS o_pos,
           LEFT(p_name, 3) AS l3,
           RIGHT(p_name, 3) AS r3,
           REPEAT(p_type, 2) AS doubled,
           TRANSLATE(p_name, 'aeiou', 'AEIOU') AS vowels_up,
           CAST(CONTAINS(p_name, 'ring') AS INT) AS has_ring,
           CAST(STARTS_WITH(p_name, 'small') AS INT) AS is_small
    FROM part
    """,
)
def q_string2(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return t.part.select(
        "p_partkey",
        F.lpad("p_brand", 10, "*").alias("padded"),
        F.rpad("p_brand", 10, ".").alias("rpadded"),
        F.reverse("p_name").alias("rev"),
        F.instr("p_name", "o").alias("o_pos"),
        F.substring("p_name", 1, 3).alias("l3"),
        F.expr("right(p_name, 3)").alias("r3"),
        F.repeat("p_type", 2).alias("doubled"),
        F.translate("p_name", "aeiou", "AEIOU").alias("vowels_up"),
        F.col("p_name").contains("ring").cast("int").alias("has_ring"),
        F.col("p_name").startswith("small").cast("int").alias("is_small"),
    )


# --------------------------------------------------------------------------
# C27c regular expressions
# --------------------------------------------------------------------------
@declared(
    "q_regex",
    oracle="""
    SELECT p_partkey,
           REGEXP_EXTRACT(p_name, '([a-z]+) ([a-z]+)', 2) AS noun,
           REGEXP_REPLACE(p_name, '[aeiou]', '_', 'g') AS devoweled,
           CAST(REGEXP_MATCHES(p_brand, '#[0-9]$') AS INT) AS single_digit,
           REGEXP_EXTRACT(p_brand, '[0-9]+') AS brand_num
    FROM part
    """,
)
def q_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DuckDB regexp_replace is first-match unless the 'g' flag is given;
    Spark's is always global — the oracle passes 'g' for parity."""
    t = load_tables(spark, sf_dir)
    return t.part.select(
        "p_partkey",
        F.regexp_extract("p_name", r"([a-z]+) ([a-z]+)", 2).alias("noun"),
        F.regexp_replace("p_name", "[aeiou]", "_").alias("devoweled"),
        F.regexp_like(F.col("p_brand"), F.lit("#[0-9]$")).cast("int").alias("single_digit"),
        F.regexp_extract("p_brand", "[0-9]+", 0).alias("brand_num"),
    )


# --------------------------------------------------------------------------
# C28b date arithmetic breadth
# --------------------------------------------------------------------------
@declared(
    "q_date_diff",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(DATE_DIFF('day', o_orderdate, l_shipdate) AS INT) AS ship_days,
           CAST(EXTRACT(dow FROM l_shipdate) AS INT) AS ship_dow,
           CAST(EXTRACT(doy FROM l_shipdate) AS INT) AS ship_doy,
           STRFTIME(LAST_DAY(o_orderdate), '%Y-%m-%d') AS month_end
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    """,
)
def q_date_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dialect note: Spark dayofweek is 1=Sunday; DuckDB dow is 0=Sunday —
    normalize to DuckDB's convention."""
    t = load_tables(spark, sf_dir)
    return (
        t.lineitem.join(t.orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            "l_orderkey",
            "l_linenumber",
            F.datediff(F.col("l_shipdate"), F.col("o_orderdate")).alias("ship_days"),
            (F.dayofweek("l_shipdate") - 1).alias("ship_dow"),
            F.dayofyear("l_shipdate").alias("ship_doy"),
            F.date_format(F.last_day("o_orderdate"), "yyyy-MM-dd").alias("month_end"),
        )
    )


# --------------------------------------------------------------------------
# C31c higher-order list lambdas
# --------------------------------------------------------------------------
@declared(
    "q_higher_order",
    oracle="""
    WITH packed AS (
        SELECT o_custkey, LIST_SORT(LIST(o_orderkey)) AS ok FROM orders GROUP BY o_custkey
    )
    SELECT o_custkey,
           ARRAY_TO_STRING(LIST_TRANSFORM(ok, x -> x * 2 + 1), ',') AS transformed,
           CAST(LEN(LIST_FILTER(ok, x -> x % 3 = 0)) AS INT) AS n_div3,
           LIST_REDUCE(LIST_TRANSFORM(ok, x -> x % 97), (a, b) -> a + b) AS mod_sum,
           CAST(LEN(LIST_FILTER(ok, x -> x % 5 = 0)) > 0 AS INT) AS any_div5
    FROM packed
    """,
)
def q_higher_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """transform / filter / aggregate(reduce) / exists — Catalyst's lambda
    expressions (JVM-evaluated, no Python)."""
    t = load_tables(spark, sf_dir)
    packed = t.orders.groupBy("o_custkey").agg(
        F.sort_array(F.collect_list("o_orderkey")).alias("ok")
    )
    return packed.select(
        "o_custkey",
        F.array_join(F.transform("ok", lambda x: x * 2 + 1), ",").alias("transformed"),
        F.size(F.filter("ok", lambda x: x % 3 == 0)).alias("n_div3"),
        F.aggregate(
            F.transform("ok", lambda x: x % 97), F.lit(0).cast("bigint"), lambda a, b: a + b
        ).alias("mod_sum"),
        F.exists("ok", lambda x: x % 5 == 0).cast("int").alias("any_div5"),
    )


# --------------------------------------------------------------------------
# statistical aggregates (decimal-derived, engine-stable)
# --------------------------------------------------------------------------
@declared(
    "q_stats",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS s1,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2)))
                AS DOUBLE) AS s2,
           SQRT((CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2)))
                      AS DOUBLE) * COUNT(*)
                 - CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
                   * CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE))
                / (CAST(COUNT(*) AS DOUBLE) * (COUNT(*) - 1))) AS stddev_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample stddev from decimal-exact moments: builtin stddev sums doubles
    in engine-specific order (not hash-stable); the moment formula over exact
    decimal sums is bit-identical in both engines."""
    t = load_tables(spark, sf_dir)
    q = F.col("l_quantity").cast("decimal(12,2)")
    g = t.lineitem.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(q).cast("double").alias("s1"),
        F.sum(q * q).cast("double").alias("s2"),
    )
    n = F.col("n")
    var = (F.col("s2") * n - F.col("s1") * F.col("s1")) / (n.cast("double") * (n - 1))
    return g.select("l_returnflag", "n", "s1", "s2", F.sqrt(var).alias("stddev_qty"))


# --------------------------------------------------------------------------
# percentiles (exact interpolation)
# --------------------------------------------------------------------------
@declared(
    "q_percentile",
    oracle="""
    SELECT l_returnflag,
           QUANTILE_CONT(l_quantity, 0.5) AS median_qty,
           QUANTILE_CONT(l_quantity, 0.9) AS p90_qty,
           MIN(l_quantity) AS min_qty,
           MAX(l_quantity) AS max_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark `percentile` ≡ DuckDB
    QUANTILE_CONT): linear interpolation between identical order statistics
    → identical doubles. (approx_percentile is the sketch-based sibling —
    engine-specific, covered rows-only by q_approx_distinct's family.)"""
    t = load_tables(spark, sf_dir)
    return t.lineitem.groupBy("l_returnflag").agg(
        F.percentile("l_quantity", 0.5).alias("median_qty"),
        F.percentile("l_quantity", 0.9).alias("p90_qty"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
    )


# --------------------------------------------------------------------------
# null-safe comparison / greatest / least
# --------------------------------------------------------------------------
@declared(
    "q_nullsafe",
    oracle="""
    SELECT o_orderkey,
           CAST((NULLIF(o_orderstatus, 'O') IS NOT DISTINCT FROM NULL) AS INT) AS open_flag,
           CAST((NULLIF(o_orderstatus, 'O') IS DISTINCT FROM NULLIF(o_orderpriority, '1-URGENT'))
                AS INT) AS distinct_flag,
           GREATEST(o_totalprice, 100000.0) AS floor_price,
           LEAST(CAST(o_custkey AS BIGINT), o_orderkey) AS min_key,
           IFNULL(NULLIF(o_orderstatus, 'F'), 'finished') AS status2
    FROM orders
    """,
)
def q_nullsafe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """<=> (eqNullSafe) vs IS NOT DISTINCT FROM, greatest/least, ifnull."""
    t = load_tables(spark, sf_dir)
    st = F.nullif(F.col("o_orderstatus"), F.lit("O"))
    pr = F.nullif(F.col("o_orderpriority"), F.lit("1-URGENT"))
    return t.orders.select(
        "o_orderkey",
        st.eqNullSafe(F.lit(None).cast("string")).cast("int").alias("open_flag"),
        (~st.eqNullSafe(pr)).cast("int").alias("distinct_flag"),
        F.greatest("o_totalprice", F.lit(100000.0)).alias("floor_price"),
        F.least(F.col("o_custkey").cast("bigint"), F.col("o_orderkey")).alias("min_key"),
        F.ifnull(F.nullif(F.col("o_orderstatus"), F.lit("F")), F.lit("finished")).alias("status2"),
    )


# --------------------------------------------------------------------------
# C23b bag-semantics set ops
# --------------------------------------------------------------------------
@declared(
    "q_setops_all",
    oracle="""
    SELECT 'except_all' AS tag, k FROM (
        SELECT l_orderkey AS k FROM lineitem
        EXCEPT ALL
        SELECT o_orderkey AS k FROM orders) t1
    UNION ALL
    SELECT 'intersect_all' AS tag, k FROM (
        SELECT l_orderkey AS k FROM lineitem
        INTERSECT ALL
        SELECT o_orderkey AS k FROM orders) t2
    """,
)
def q_setops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL / INTERSECT ALL (multiset semantics — duplicates counted)."""
    t = load_tables(spark, sf_dir)
    li = t.lineitem.select(F.col("l_orderkey").alias("k"))
    od = t.orders.select(F.col("o_orderkey").alias("k"))
    ex = li.exceptAll(od).select(F.lit("except_all").alias("tag"), "k")
    it = li.intersectAll(od).select(F.lit("intersect_all").alias("tag"), "k")
    return ex.unionAll(it)


# --------------------------------------------------------------------------
# C20b RANGE-frame window (value-range, not row-count)
# --------------------------------------------------------------------------
@declared(
    "q_window_range",
    oracle="""
    WITH days AS (
        SELECT o_orderkey, o_custkey, o_totalprice,
               CAST(DATE_DIFF('day', TIMESTAMP '1990-01-01', o_orderdate) AS BIGINT) AS day_no
        FROM orders
    )
    SELECT o_orderkey, o_custkey,
           COUNT(*) OVER (PARTITION BY o_custkey ORDER BY day_no
                          RANGE BETWEEN 90 PRECEDING AND CURRENT ROW) AS n_last90,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
                PARTITION BY o_custkey ORDER BY day_no
                RANGE BETWEEN 90 PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS spend_last90
    FROM days
    """,
)
def q_window_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame over a day-number axis: 'orders in the last 90 days' —
    unlike ROWS frames, peers are defined by value distance."""
    t = load_tables(spark, sf_dir)
    days = t.orders.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.datediff(F.col("o_orderdate"), F.lit("1990-01-01").cast("timestamp_ntz"))
        .cast("bigint")
        .alias("day_no"),
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("day_no")
        .rangeBetween(-90, Window.currentRow)
    )
    return days.select(
        "o_orderkey",
        "o_custkey",
        F.count("*").over(w).alias("n_last90"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(12,2)")).over(w), 2)
        .cast("double")
        .alias("spend_last90"),
    )


# --------------------------------------------------------------------------
# boolean / conditional-count / string aggregates
# --------------------------------------------------------------------------
@declared(
    "q_boolagg",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT_IF(l_quantity > 40) AS BIGINT) AS n_big,
           CAST(BOOL_AND(l_quantity > 0) AS INT) AS all_positive,
           CAST(BOOL_OR(l_discount > 0.09) AS INT) AS any_deep_discount,
           STRING_AGG(DISTINCT l_linestatus, ',' ORDER BY l_linestatus) AS statuses
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_boolagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count_if / bool_and / bool_or / ordered string_agg (Spark: sorted
    collect_set + array_join — deterministic by construction)."""
    t = load_tables(spark, sf_dir)
    return t.lineitem.groupBy("l_returnflag").agg(
        F.count_if(F.col("l_quantity") > 40).alias("n_big"),
        F.bool_and(F.col("l_quantity") > 0).cast("int").alias("all_positive"),
        F.bool_or(F.col("l_discount") > 0.09).cast("int").alias("any_deep_discount"),
        F.array_join(F.sort_array(F.collect_set("l_linestatus")), ",").alias("statuses"),
    )


# --------------------------------------------------------------------------
# bitwise operators + bit aggregates
# --------------------------------------------------------------------------
@declared(
    "q_bitops",
    oracle="""
    SELECT l_returnflag,
           BIT_AND(l_orderkey) AS key_and,
           BIT_OR(l_linenumber) AS key_or,
           BIT_XOR(l_orderkey) AS key_xor,
           CAST(SUM(l_orderkey & 255) AS BIGINT) AS low_byte_sum,
           CAST(MAX(l_orderkey >> 4) AS BIGINT) AS max_shifted
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_bitops(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return t.lineitem.groupBy("l_returnflag").agg(
        F.bit_and("l_orderkey").alias("key_and"),
        F.bit_or(F.col("l_linenumber").cast("int")).alias("key_or"),
        F.bit_xor("l_orderkey").alias("key_xor"),
        F.sum(F.col("l_orderkey").bitwiseAND(F.lit(255))).cast("bigint").alias("low_byte_sum"),
        F.max(F.expr("l_orderkey >> 4")).cast("bigint").alias("max_shifted"),
    )


# --------------------------------------------------------------------------
# arg-max / arg-min aggregates (deterministic composite orderer)
# --------------------------------------------------------------------------
@declared(
    "q_argmax",
    oracle="""
    SELECT o_orderstatus,
           ARG_MAX(o_orderkey, o_totalprice + o_orderkey / 1000000000.0) AS priciest_order,
           ARG_MIN(o_orderkey, o_totalprice + o_orderkey / 1000000000.0) AS cheapest_order,
           ARG_MAX(o_orderpriority, o_totalprice + o_orderkey / 1000000000.0) AS priciest_prio
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def q_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by/min_by ≡ DuckDB arg_max/arg_min. The orderer is made strictly
    unique (price + key/1e9 — keys are distinct, the offset is below the
    2-decimal price grid) so ties can't make the winner engine-dependent."""
    t = load_tables(spark, sf_dir)
    orderer = F.col("o_totalprice") + F.col("o_orderkey") / F.lit(1_000_000_000.0)
    return t.orders.groupBy("o_orderstatus").agg(
        F.max_by("o_orderkey", orderer).alias("priciest_order"),
        F.min_by("o_orderkey", orderer).alias("cheapest_order"),
        F.max_by("o_orderpriority", orderer).alias("priciest_prio"),
    )


# --------------------------------------------------------------------------
# try_cast + string formatting
# --------------------------------------------------------------------------
@declared(
    "q_trycast_format",
    oracle="""
    SELECT o_orderkey,
           TRY_CAST(o_orderpriority AS INT) AS prio_try,
           TRY_CAST(SUBSTRING(o_orderpriority, 1, 1) AS INT) AS prio_digit,
           PRINTF('%s-%05d', o_orderstatus, o_orderkey % 10000) AS tag,
           PRINTF('%.2f', ROUND(CAST(o_totalprice AS DECIMAL(12,2)), 2)) AS price_str
    FROM orders
    """,
)
def q_trycast_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """try_cast (NULL on failure, never error) + printf-style formatting
    (Spark format_string ≡ DuckDB printf)."""
    t = load_tables(spark, sf_dir)
    return t.orders.select(
        "o_orderkey",
        F.col("o_orderpriority").try_cast("int").alias("prio_try"),
        F.substring("o_orderpriority", 1, 1).try_cast("int").alias("prio_digit"),
        F.format_string("%s-%05d", F.col("o_orderstatus"), F.col("o_orderkey") % 10000).alias(
            "tag"
        ),
        F.format_string(
            "%.2f",
            F.round(F.col("o_totalprice").cast("decimal(12,2)"), 2).cast("double"),
        ).alias("price_str"),
    )


# --------------------------------------------------------------------------
# sessionization: session_window vs gaps-and-islands oracle
# --------------------------------------------------------------------------
@declared(
    "q_sessionize",
    oracle="""
    WITH marked AS (
        SELECT user_id, ts, event_id,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         > INTERVAL 30 MINUTE
                    OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS is_start
        FROM events
    ), islands AS (
        SELECT user_id, ts,
               SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS session_id
        FROM marked
    )
    SELECT user_id,
           STRFTIME(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           COUNT(*) AS n_events
    FROM islands
    GROUP BY user_id, session_id
    """,
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's native session_window (30-min gap) vs the classic
    gaps-and-islands SQL — orthogonal formulations of sessionization.
    session_start is truncated to seconds so both engines print identically
    (session identity itself is µs-exact)."""
    t = load_tables(spark, sf_dir)
    return (
        t.events.groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.date_format(F.col("sw.start"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
        )
    )


# --------------------------------------------------------------------------
# time-bucket rollup (hypertable-style)
# --------------------------------------------------------------------------
@declared(
    "q_time_bucket",
    oracle="""
    SELECT STRFTIME(TIME_BUCKET(INTERVAL 15 MINUTE, ts), '%Y-%m-%d %H:%M:%S') AS bucket,
           event_type,
           COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q_time_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width time buckets (the hypertable rollup primitive): Spark's
    window() tumbling bucket vs DuckDB's TIME_BUCKET."""
    t = load_tables(spark, sf_dir)
    return (
        t.events.groupBy(F.window("ts", "15 minutes").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(12,2)")), 2)
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("bucket"),
            "event_type",
            "n",
            "total_value",
        )
    )


# --------------------------------------------------------------------------
# statistical aggregates, second pass: linear regression + ordered string agg
# --------------------------------------------------------------------------
@declared(
    "q_stats2",
    oracle="""
    WITH m AS (
        SELECT l_returnflag,
               COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))
                        * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sxx,
               CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))
                        * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sxy,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                        * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS syy,
               ARRAY_TO_STRING(LIST_SORT(LIST_DISTINCT(LIST(l_linestatus))), ',') AS statuses
        FROM lineitem
        GROUP BY l_returnflag
    )
    SELECT l_returnflag, n, statuses,
           ROUND((CAST(n AS DOUBLE) * sxy - sx * sy)
             / (CAST(n AS DOUBLE) * sxx - sx * sx), 9) AS slope,
           ROUND((sy - ((CAST(n AS DOUBLE) * sxy - sx * sy)
                  / (CAST(n AS DOUBLE) * sxx - sx * sx)) * sx)
             / CAST(n AS DOUBLE), 9) AS intercept,
           ROUND(((CAST(n AS DOUBLE) * sxy - sx * sy) * (CAST(n AS DOUBLE) * sxy - sx * sy))
             / ((CAST(n AS DOUBLE) * sxx - sx * sx)
                * (CAST(n AS DOUBLE) * syy - sy * sy)), 9) AS r2
    FROM m
    """,
)
def q_stats2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear regression (regr_slope / regr_intercept / regr_r2 semantics)
    derived from decimal-exact moments — the built-in regr_* aggregates sum
    doubles in engine-specific order and are not hash-stable; identical
    moment doubles + identical IEEE formula are. Plus an ordered,
    deduplicated string_agg (array_join over a sorted collect_set — the
    deterministic form of listagg)."""
    t = load_tables(spark, sf_dir)
    q = F.col("l_quantity").cast("decimal(12,2)")
    p = F.col("l_extendedprice").cast("decimal(12,2)")
    m = t.lineitem.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(q).cast("double").alias("sx"),
        F.sum(p).cast("double").alias("sy"),
        F.sum(q * q).cast("double").alias("sxx"),
        F.sum(q * p).cast("double").alias("sxy"),
        F.sum(p * p).cast("double").alias("syy"),
        F.array_join(F.sort_array(F.collect_set("l_linestatus")), ",").alias(
            "statuses"
        ),
    )
    n = F.col("n").cast("double")
    sx, sy = F.col("sx"), F.col("sy")
    sxx, sxy, syy = F.col("sxx"), F.col("sxy"), F.col("syy")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    intercept = (sy - slope * sx) / n
    r2 = ((n * sxy - sx * sy) * (n * sxy - sx * sy)) / (
        (n * sxx - sx * sx) * (n * syy - sy * sy)
    )
    # 9dp rounding: the moment casts (38-digit decimal → double) are not
    # correctly-rounded identically in both engines at every group size —
    # sf0.001's 'A' group diverged by 1 ulp in syy, surfacing in r2. The
    # derived stats round to 9 dp on both sides; 1-ulp input noise (~1e-19
    # relative) cannot move a 9th decimal except exactly on a rounding
    # boundary, which the fixed corpus is nowhere near (verified sf0.001/.01/.1).
    return m.select(
        "l_returnflag",
        "n",
        "statuses",
        F.round(slope, 9).alias("slope"),
        F.round(intercept, 9).alias("intercept"),
        F.round(r2, 9).alias("r2"),
    )


# --------------------------------------------------------------------------
# recursive CTE (calendar spine — Spark 4 WITH RECURSIVE vs DuckDB's)
# --------------------------------------------------------------------------
@declared(
    "q_recursive",
    oracle="""
    WITH RECURSIVE months(m) AS (
      SELECT DATE '1992-01-01'
      UNION ALL
      SELECT CAST(m + INTERVAL 1 MONTH AS DATE) FROM months WHERE m < DATE '1998-12-01'
    ), rev AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
             COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
      FROM orders GROUP BY 1
    )
    SELECT strftime(months.m, '%Y-%m') AS month,
           COALESCE(n, 0) AS n_orders,
           COALESCE(total, 0.0) AS revenue
    FROM months LEFT JOIN rev ON months.m = rev.m
    """,
)
def q_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE generating a complete month spine, outer-joined to
    monthly revenue so empty months surface as zeros — the calendar-dimension
    pattern. Spark 4's WITH RECURSIVE iterates on the driver plan-side (84
    tiny rows here); the heavy side stays one distributed aggregation.
    Money sum uses the exact cent-scaled long fast path (== the oracle's
    decimal sum, see relational.fxsum)."""
    t = load_tables(spark, sf_dir)
    t.orders.createOrReplaceTempView("v_orders_rec")
    return spark.sql(
        """
        WITH RECURSIVE months(m) AS (
          SELECT DATE '1992-01-01'
          UNION ALL
          SELECT add_months(m, 1) FROM months WHERE m < DATE '1998-12-01'
        ), rev AS (
          SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
                 COUNT(*) AS n,
                 CAST(CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                           AS DECIMAL(28,0)) / 100 AS DOUBLE) AS total
          FROM v_orders_rec GROUP BY 1
        )
        SELECT date_format(months.m, 'yyyy-MM') AS month,
               COALESCE(n, CAST(0 AS BIGINT)) AS n_orders,
               COALESCE(total, 0.0) AS revenue
        FROM months LEFT JOIN rev ON months.m = rev.m
        """
    )


# --------------------------------------------------------------------------
# C27b fuzzy string matching (levenshtein edit distance)
# --------------------------------------------------------------------------
@declared(
    "q_fuzzy",
    oracle="""
    SELECT n1.n_name AS name_a, n2.n_name AS name_b,
           CAST(levenshtein(n1.n_name, n2.n_name) AS INT) AS edit_dist
    FROM nation n1 JOIN nation n2 ON n1.n_nationkey < n2.n_nationkey
    WHERE levenshtein(n1.n_name, n2.n_name) <= 2
    """,
)
def q_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy self-join on edit distance (host-engine ``levenshtein``, exercised
    as DuckDB's function surface would be). The pair space is bounded by a
    key-inequality join over the 25-row nation dim, so both sides broadcast —
    at 100 TB this pattern is only sane against a small dim (or pre-blocked
    candidates, e.g. the LSH buckets from dedup.py); the declared query keeps
    the candidate set dim-sized on purpose."""
    t = load_tables(spark, sf_dir)
    n1 = t.nation.select(F.col("n_nationkey").alias("k1"), F.col("n_name").alias("name_a"))
    n2 = t.nation.select(F.col("n_nationkey").alias("k2"), F.col("n_name").alias("name_b"))
    return (
        n1.join(F.broadcast(n2), F.col("k1") < F.col("k2"))
        .withColumn("edit_dist", F.levenshtein("name_a", "name_b").cast("int"))
        .filter(F.col("edit_dist") <= 2)
        .select("name_a", "name_b", "edit_dist")
    )


# --------------------------------------------------------------------------
# C31c array set operations (intersect / union / except, sorted for hashing)
# --------------------------------------------------------------------------
@declared(
    "q_array_setops",
    oracle="""
    SELECT user_id,
           array_to_string(list_sort(list_intersect(list(DISTINCT event_type),
                                    ['click', 'view', 'purchase'])), ',') AS funnel_types,
           array_to_string(list_sort(list_filter(list(DISTINCT event_type),
                                 x -> x NOT IN ('click', 'view', 'purchase'))), ',') AS other_types,
           CAST(len(list(DISTINCT event_type)) AS INT) AS n_types
    FROM events
    GROUP BY user_id
    """,
)
def q_array_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array set algebra over per-user collected event types: intersect and
    except against a constant funnel list, sorted and CSV-serialized so the
    value hash is array-layout-independent (same convention as q_array,
    SURVEY.md §7.4). One shuffle (the groupBy); collect_set stays bounded by
    the event-type cardinality, so per-group state is O(1) at any scale."""
    t = load_tables(spark, sf_dir)
    funnel = F.array(F.lit("click"), F.lit("view"), F.lit("purchase"))
    return (
        t.events.groupBy("user_id")
        .agg(F.collect_set("event_type").alias("s"))
        .select(
            "user_id",
            F.array_join(F.sort_array(F.array_intersect("s", funnel)), ",").alias(
                "funnel_types"
            ),
            F.array_join(F.sort_array(F.array_except("s", funnel)), ",").alias("other_types"),
            F.size("s").cast("int").alias("n_types"),
        )
    )


# --------------------------------------------------------------------------
# C5b LATERAL join (correlated per-row subquery with ORDER BY + LIMIT)
# --------------------------------------------------------------------------
@declared(
    "q_lateral",
    oracle="""
    SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
    FROM customer c, LATERAL (
      SELECT o_orderkey, o_totalprice FROM orders o
      WHERE o.o_custkey = c.c_custkey
      ORDER BY o_totalprice DESC, o_orderkey
      LIMIT 2) t
    """,
)
def q_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer top-2 orders via a correlated LATERAL subquery — the SQL
    surface form of top-k-per-group (q_window_rank is the window form).
    Catalyst decorrelates this into a join + per-key limit rather than
    executing the subquery per row, so it scales as one shuffle; the tie-break
    on o_orderkey makes the LIMIT deterministic for hashing. No float math —
    values pass through from parquet, so the hash is exact."""
    t = load_tables(spark, sf_dir)
    t.customer.createOrReplaceTempView("v_lat_customer")
    t.orders.createOrReplaceTempView("v_lat_orders")
    return spark.sql(
        """
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        FROM v_lat_customer c, LATERAL (
          SELECT o_orderkey, o_totalprice FROM v_lat_orders o
          WHERE o.o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey
          LIMIT 2) t
        """
    )


# --------------------------------------------------------------------------
# C24b TPC-H Q15 shape: top supplier(s) by quarterly revenue
# --------------------------------------------------------------------------
@declared(
    "q_supplier_rev",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                            * (1 - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE)
                 AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
)
def q_supplier_rev(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: per-supplier revenue over one quarter, keep the max-revenue
    supplier(s) via a scalar-subquery-style join. The shipdate range is pushed
    to the scan; the revenue CTE shuffles once on l_suppkey; the 1-row MAX is
    broadcast back. Equality on total_revenue is safe because both sides round
    an identical exact decimal (the fixed-point long sum, relational.fxsum)."""
    from .relational import fx_revenue, fxsum

    t = load_tables(spark, sf_dir)
    rev = (
        t.lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(fxsum(fx_revenue(), 4).alias("total_revenue"))
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    return (
        t.supplier.join(rev, F.col("s_suppkey") == F.col("supplier_no"))
        .join(F.broadcast(mx), F.col("total_revenue") == F.col("mx"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


# --------------------------------------------------------------------------
# C11b supplier dimension rollup (s_nationkey / s_acctbal coverage)
# --------------------------------------------------------------------------
@declared(
    "q_supplier_balance",
    oracle="""
    SELECT n_name,
           COUNT(*) AS n_suppliers,
           CAST(ROUND(SUM(CAST(s_acctbal AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_bal,
           ROUND(CAST(SUM(CAST(s_acctbal AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*), 4)
               AS avg_bal,
           MIN(s_acctbal) AS min_bal,
           MAX(s_acctbal) AS max_bal
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def q_supplier_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation supplier account-balance profile. The nation dim broadcasts;
    the aggregate shuffles on 25 keys — at 100 TB this is a classic two-phase
    (partial/final) agg with trivially small state. MIN/MAX pass raw doubles
    through (no arithmetic ⇒ exact parity); sums take the fixed-point path."""
    from .relational import fx100, fxsum

    t = load_tables(spark, sf_dir)
    return (
        t.supplier.join(
            F.broadcast(t.nation), F.col("s_nationkey") == F.col("n_nationkey")
        )
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_suppliers"),
            fxsum(fx100("s_acctbal"), 2).alias("total_bal"),
            F.round(
                (
                    F.sum(fx100("s_acctbal")).cast("decimal(28,0)")
                    / F.lit(100).cast("decimal(3,0)")
                ).cast("double")
                / F.count("*"),
                4,
            ).alias("avg_bal"),
            F.min("s_acctbal").alias("min_bal"),
            F.max("s_acctbal").alias("max_bal"),
        )
    )


# --------------------------------------------------------------------------
# C29b part margin (p_retailprice coverage; ratio-of-sums, not sum-of-ratios)
# --------------------------------------------------------------------------
@declared(
    "q_part_margin",
    oracle="""
    SELECT p_brand,
           COUNT(*) AS n_lines,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
                 / CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE), 4)
               AS avg_unit_price,
           ROUND(CAST(SUM(CAST(p_retailprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*), 4)
               AS avg_retail,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
                 / CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
                 / (CAST(SUM(CAST(p_retailprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*)), 4)
               AS margin_ratio
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand
    """,
)
def q_part_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Realized unit price vs catalog retail price per brand. Ratio-of-exact-
    sums (never sum-of-ratios: double ratio sums are summation-order dependent
    and would break cross-engine hashing — the denominators are exact decimal
    sums, the final divisions are single IEEE ops on identical operands).
    Part broadcasts into the lineitem scan; one 25-key shuffle."""
    from .relational import fx100

    t = load_tables(spark, sf_dir)

    def _dsum(col: str) -> F.Column:
        return (
            F.sum(fx100(col)).cast("decimal(28,0)") / F.lit(100).cast("decimal(3,0)")
        ).cast("double")

    return (
        t.lineitem.join(F.broadcast(t.part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_lines"),
            F.round(_dsum("l_extendedprice") / _dsum("l_quantity"), 4).alias(
                "avg_unit_price"
            ),
            F.round(_dsum("p_retailprice") / F.count("*"), 4).alias("avg_retail"),
            F.round(
                _dsum("l_extendedprice")
                / _dsum("l_quantity")
                / (_dsum("p_retailprice") / F.count("*")),
                4,
            ).alias("margin_ratio"),
        )
    )


# --------------------------------------------------------------------------
# C10b as-of join, forward direction + tolerance bound
# --------------------------------------------------------------------------
@declared(
    "q_asof_tol",
    oracle="""
    SELECT p.event_id,
           p.user_id,
           CAST(( SELECT MIN(c.ts) FROM events c
                  WHERE c.user_id = p.user_id
                    AND c.event_type = 'click'
                    AND c.ts >= p.ts
                    AND c.ts <= p.ts + INTERVAL 1 HOUR ) AS VARCHAR) AS next_click_ts
    FROM events p
    WHERE p.event_type = 'purchase'
    """,
)
def q_asof_tol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join, forward + tolerance: each purchase matched to the EARLIEST
    click at-or-after its timestamp by the same user, but only within the next
    hour (matches outside the bound null out). Covers the operator's other
    direction and the tolerance parameter (operators/asof.py:79-110); q_asof
    covers backward/unbounded. Same union+window plan — one shuffle on
    user_id, no candidate-pair blowup at scale. Oracle is the equivalent
    bounded correlated subquery."""
    from .asof import asof_join

    t = load_tables(spark, sf_dir)
    ev = t.events
    left = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    right = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts")
    )
    joined = asof_join(
        left,
        right,
        on="user_id",
        left_ts="ts",
        right_ts="click_ts",
        direction="forward",
        tolerance="1 HOUR",
    )
    return joined.select(
        "event_id",
        "user_id",
        F.col("click_ts").cast("string").alias("next_click_ts"),
    )


# --------------------------------------------------------------------------
# as-of join, forward direction (the C10 family's other half)
# --------------------------------------------------------------------------
@declared(
    "q_asof_forward",
    oracle="""
    SELECT p.event_id,
           p.user_id,
           CAST(( SELECT MIN(c.ts) FROM events c
                  WHERE c.user_id = p.user_id
                    AND c.event_type = 'click'
                    AND c.ts >= p.ts ) AS VARCHAR) AS next_click_ts
    FROM events p
    WHERE p.event_type = 'purchase'
    """,
)
def q_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join: each purchase matched to the EARLIEST click ≥ its
    timestamp by the same user — the attribution-window complement of
    q_asof's backward match. Same union+window single-shuffle plan
    (operators/asof.py, direction='forward'); oracle is the correlated
    MIN subquery."""
    from .asof import asof_join

    t = load_tables(spark, sf_dir)
    ev = t.events
    left = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    right = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts")
    )
    joined = asof_join(
        left, right, on="user_id", left_ts="ts", right_ts="click_ts", direction="forward"
    )
    return joined.select(
        "event_id",
        "user_id",
        F.col("click_ts").cast("string").alias("next_click_ts"),
    )


# --------------------------------------------------------------------------
# ANALYZE-style column profile (catalog statistics collection)
# --------------------------------------------------------------------------

_COLUMN_PROFILE_ORACLE = """
    SELECT 'o_custkey' AS col,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(o_custkey) AS BIGINT) AS n_nonnull,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_distinct,
           CAST(MIN(o_custkey) AS DOUBLE) AS min_v,
           CAST(MAX(o_custkey) AS DOUBLE) AS max_v
    FROM orders
    UNION ALL
    SELECT 'o_totalprice',
           CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(o_totalprice) AS BIGINT),
           CAST(COUNT(DISTINCT o_totalprice) AS BIGINT),
           CAST(MIN(o_totalprice) AS DOUBLE),
           CAST(MAX(o_totalprice) AS DOUBLE)
    FROM orders
    UNION ALL
    SELECT 'o_orderkey',
           CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(o_orderkey) AS BIGINT),
           CAST(COUNT(DISTINCT o_orderkey) AS BIGINT),
           CAST(MIN(o_orderkey) AS DOUBLE),
           CAST(MAX(o_orderkey) AS DOUBLE)
    FROM orders
"""


@declared("q_column_profile", oracle=_COLUMN_PROFILE_ORACLE)
def q_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style column statistics (null count, NDV, min/max) for a set
    of orders columns in ONE scan — the statistics a cost-based optimizer
    feeds on (Spark: ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS; this
    is its declarative, oracle-checkable equivalent). One wide aggregate
    computes every column's profile simultaneously, then unpivots to the
    (col, stats) long form — the single-pass trick that makes profiling a
    100 TB table one scan instead of one per column.

    Engine-exactness: counts BIGINT; min/max cast to DOUBLE so the three
    profiles union into one typed column.

    Scale notes (100 TB): one scan, one combiner aggregate (count-distinct
    is the only expensive term — production swaps approx_count_distinct per
    the documented sketch family); the unpivot is driver-free on a 1-row
    aggregate."""
    t = load_tables(spark, sf_dir)
    cols = ["o_custkey", "o_totalprice", "o_orderkey"]
    aggs = [F.count("*").cast("bigint").alias("n_rows")]
    for c in cols:
        aggs += [
            F.count(c).cast("bigint").alias(f"{c}__nn"),
            F.countDistinct(c).cast("bigint").alias(f"{c}__nd"),
            F.min(c).cast("double").alias(f"{c}__mn"),
            F.max(c).cast("double").alias(f"{c}__mx"),
        ]
    wide = t.orders.agg(*aggs)
    stack = ", ".join(
        f"'{c}', {c}__nn, {c}__nd, {c}__mn, {c}__mx" for c in cols
    )
    return wide.select(
        F.expr(
            f"stack({len(cols)}, {stack})"
            " AS (col, n_nonnull, n_distinct, min_v, max_v)"
        ),
        "n_rows",
    ).select("col", "n_rows", "n_nonnull", "n_distinct", "min_v", "max_v")


# --------------------------------------------------------------------------
# Interval-overlap self-join (bucket-decomposed — the missing join type)
# --------------------------------------------------------------------------

IVL_BUCKET_DAYS = 32  # bucket width for the interval-join decomposition
IVL_ANCHOR = "1990-01-01"

_INTERVAL_ORACLE = f"""
    WITH iv AS (
        SELECT l_suppkey AS supp,
               CAST(l_orderkey * 8 + l_linenumber AS BIGINT) AS k,
               CAST(date_diff('day', DATE '{IVL_ANCHOR}',
                              CAST(l_shipdate AS DATE)) AS BIGINT) AS s
        FROM lineitem
        WHERE l_shipdate < TIMESTAMP '1996-01-01 00:00:00'
    ), iv2 AS (
        SELECT supp, k, s,
               s + 1 + (k * 3) % 30 AS e
        FROM iv
    ), bk AS (
        SELECT supp, k, s, e,
               unnest(generate_series(s // {IVL_BUCKET_DAYS},
                                      e // {IVL_BUCKET_DAYS})) AS bucket
        FROM iv2
    ), cand AS (
        SELECT DISTINCT a.supp, a.k AS ka, b.k AS kb,
               GREATEST(a.s, b.s) AS gs, LEAST(a.e, b.e) AS le
        FROM bk a JOIN bk b
          ON a.supp = b.supp AND a.bucket = b.bucket AND a.k < b.k
    )
    SELECT supp AS l_suppkey,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(le - gs + 1) AS BIGINT) AS sum_overlap_days,
           CAST(MAX(le - gs + 1) AS BIGINT) AS max_overlap_days
    FROM cand
    WHERE le >= gs
    GROUP BY supp
"""


@declared("q_join_interval", oracle=_INTERVAL_ORACLE)
def q_join_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERVAL-OVERLAP SELF-JOIN, bucket-decomposed — the join type Spark
    has no native operator for (two interval sets, pairs that overlap in
    time): per supplier, concurrent-shipment pairs among 1995 lineitems,
    each item active [ship_day, ship_day + 1..30 synthetic duration]. The
    naive formulation is an O(n²) theta-join per supplier; the
    decomposition explodes each interval into the {IVL_BUCKET_DAYS}-day
    BUCKETS it covers and equi-joins on (supplier, bucket) — candidate
    volume scales with actual temporal density, not n², and the exact
    overlap test (LEAST(end) ≥ GREATEST(start)) prunes bucket-neighbors
    that don't truly intersect. Distinct-before-verify dedups pairs that
    share several buckets. This is the production interval-join shape
    (co-presence, session concurrency, machine-maintenance conflicts) on
    any engine without a native range-interval join.

    Engine-exactness: intervals are integer epoch-days from a fixed anchor
    (calendar datediff — no timezone arithmetic); durations are a keyed
    modular formula both sides replay; all outputs integer.

    Scale notes (100 TB): one narrow explode (≤ 2 buckets per 30-day
    interval), one equi-join keyed (supp, bucket) — co-partitionable by
    supplier at write time; the per-supplier aggregate is map-side
    combined. Bucket width tunes the explode-vs-candidates trade exactly
    like LSH band width."""
    t = load_tables(spark, sf_dir)
    iv = (
        t.lineitem.filter(F.col("l_shipdate") < F.expr("TIMESTAMP '1996-01-01 00:00:00'"))
        .select(
            F.col("l_suppkey").alias("supp"),
            (F.col("l_orderkey") * 8 + F.col("l_linenumber")).cast("bigint").alias("k"),
            F.datediff(F.to_date("l_shipdate"), F.lit(IVL_ANCHOR).cast("date"))
            .cast("bigint")
            .alias("s"),
        )
        .withColumn("e", F.col("s") + 1 + (F.col("k") * 3) % 30)
    )
    bk = iv.select(
        "supp",
        "k",
        "s",
        "e",
        F.explode(
            F.sequence(
                F.expr(f"s div {IVL_BUCKET_DAYS}"), F.expr(f"e div {IVL_BUCKET_DAYS}")
            )
        ).alias("bucket"),
    )
    a = bk.select(
        F.col("supp"), F.col("k").alias("ka"), F.col("s").alias("sa"),
        F.col("e").alias("ea"), "bucket",
    )
    b = bk.select(
        F.col("supp").alias("supp_b"), F.col("k").alias("kb"),
        F.col("s").alias("sb"), F.col("e").alias("eb"), F.col("bucket").alias("bucket_b"),
    )
    cand = (
        a.join(
            b,
            (F.col("supp") == F.col("supp_b"))
            & (F.col("bucket") == F.col("bucket_b"))
            & (F.col("ka") < F.col("kb")),
        )
        .select(
            "supp",
            "ka",
            "kb",
            F.greatest("sa", "sb").alias("gs"),
            F.least("ea", "eb").alias("le"),
        )
        .distinct()
    )
    return (
        cand.filter(F.col("le") >= F.col("gs"))
        .groupBy(F.col("supp").alias("l_suppkey"))
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.sum(F.col("le") - F.col("gs") + 1).cast("bigint").alias("sum_overlap_days"),
            F.max(F.col("le") - F.col("gs") + 1).cast("bigint").alias("max_overlap_days"),
        )
    )
