"""Tier C relational operator corpus (SURVEY.md §2.C, C1-C40).

Each declared query is the parity witness for one operator family of the host
engine the reference ships inside (DuckDB v1.4.4 — /root/reference/vcpkg.json:3).
Implementation is pure Spark DataFrame API — zero custom Catalyst rules
(SURVEY.md §4.1); the oracle strings are DuckDB-1.0-compatible ANSI SQL.

Dialect-parity conventions (SURVEY.md §2.C tail):
- money aggregates rounded to 2 decimals on BOTH sides;
- ratios/similarities rounded to 6 decimals;
- timestamps leave results as formatted strings (ns-vs-µs hazard);
- integer sums cast explicitly (DuckDB sum(int)→HUGEINT, Spark→LONG);
- double→int casts go through FLOOR (DuckDB CAST rounds, Spark truncates);
- every ORDER BY that feeds a LIMIT carries a unique tiebreaker.

Scale notes (100 TB): every query here is shuffle-minimal by construction —
fixed-size dims (region/nation) are broadcast explicitly; fact-fact joins go
through their natural keys so bucketing on TABLES[...] keys removes the
shuffle; aggregates are expressed as single groupBy so Catalyst emits partial
(map-side) aggregation; AQE handles skew/coalesce at runtime.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans.registry import declared
from ..sources.catalog import load_tables


# --- decimal-exact money arithmetic -------------------------------------
# Source money columns are 2-decimal doubles. Double sums are summation-order
# dependent and double ROUND disagrees across engines at decimal midpoints
# (products of 2-decimal values land exactly on x.xx5). Casting to decimal
# makes every product/sum exact and engine-independent; results are cast back
# to double at the very end (the nearest-double of an agreed decimal is
# bit-identical in both engines). SURVEY.md §7.4 hazard #1.
def _dec(col: str | F.Column) -> F.Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("decimal(12,2)")


def _dec_rate(col: str) -> F.Column:
    return F.col(col).cast("decimal(4,2)")


def _revenue_dec() -> F.Column:
    return _dec("l_extendedprice") * (F.lit(1).cast("decimal(4,2)") - _dec_rate("l_discount"))


def _r2d(col: F.Column) -> F.Column:
    """round(decimal, 2) → double (exact, engine-portable)."""
    return F.round(col, 2).cast("double")


# --- fixed-point fast path -------------------------------------------------
# A decimal SUM whose result precision exceeds 18 (every sum(decimal(12,2))
# here: 12+10=22) leaves Spark's compact long-backed Decimal representation
# and accumulates through Java BigDecimal — measured ~2.2x slower per row.
# Money columns are exact 2-decimal doubles (verified against the testdata:
# max |x*100 - round(x*100)| < 4e-9), so scaling by 100 yields exact longs;
# summing longs stays inside whole-stage codegen, and dividing the exact long
# sum back down as a decimal reproduces the decimal sum bit-for-bit (same
# value, same HALF_UP rounding) — oracle parity is unchanged.
# Overflow bound: long holds ±9.2e18 — ~9.2e14 money units at the 1e-4 scale,
# ~9.2e12 at 1e-6. That is ample for HIGH-cardinality group keys (per-customer,
# per-order, per-supplier sums stay tiny), but a LOW-cardinality agg funnels
# the whole table into a handful of groups: TPC-H Q1's 4 groups at 1e-6 scale
# wrap around sf~100-200 (Spark's non-ANSI long sum wraps silently). Those
# queries route through _fxsum_big below: a decimal(38,0) accumulator cannot
# wrap at any corpus size (1e38 headroom), and on Spark 4.1 a sum over
# cast(long AS decimal(38,0)) measures AT PAR with the long sum per row
# (interleaved microbench, 80M rows × 8 partitions: long min 1.713 s,
# dec38 min 1.651 s — the 2.2x BigDecimal penalty this header previously
# recorded no longer reproduces), so the single-level plan replaces the old
# two-level _agg2 idiom and saves one whole shuffle stage per query (r13).
def fx100(col: str) -> F.Column:
    """Exact 2-decimal double → long in units of 1e-2."""
    return F.round(F.col(col) * 100).cast("long")


def _fx2dec(sum_col: F.Column, frac_digits: int) -> F.Column:
    """Exact long fixed-point sum → exact decimal in money units."""
    denom = F.lit(10**frac_digits).cast(f"decimal({frac_digits + 1},0)")
    return sum_col.cast("decimal(28,0)") / denom


def fxsum(fx: F.Column, frac_digits: int) -> F.Column:
    """round(sum(fixed-point long) / 10^frac_digits, 2) → double, exact."""
    return F.round(_fx2dec(F.sum(fx), frac_digits), 2).cast("double")


def fx_revenue() -> F.Column:
    """l_extendedprice*(1-l_discount) in units of 1e-4, exact long."""
    return fx100("l_extendedprice") * (F.lit(100) - fx100("l_discount"))


def _fxsum_big(fx: F.Column, frac_digits: int) -> F.Column:
    """Exact fixed-point sum for LOW-cardinality group keys: accumulate the
    long fixed-point column under decimal(38,0) (cannot wrap at any corpus
    size — 1e38 headroom vs 2^63≈9.2e18), scale down, round, cast double.
    Value-identical to fxsum (integer addition is associative); single
    aggregation level, so the plan keeps ONE exchange of pre-aggregated rows
    where the retired _agg2 idiom paid two (r13: the level-1 exchange moved
    groups that were already partition-local — pure stage overhead)."""
    total = F.sum(fx.cast("decimal(38,0)"))
    denom = F.lit(10**frac_digits).cast(f"decimal({frac_digits + 1},0)")
    return F.round(total / denom, 2).cast("double")


# --------------------------------------------------------------------------
# C1 scan
# --------------------------------------------------------------------------
@declared(
    "q_scan",
    oracle="SELECT r_regionkey, r_name FROM region",
)
def q_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet scan + projection; column pruning visible in ReadSchema."""
    t = load_tables(spark, sf_dir)
    return t.region.select("r_regionkey", "r_name")


# --------------------------------------------------------------------------
# C2 projection / computed expressions
# --------------------------------------------------------------------------
@declared(
    "q_project",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(ROUND(CAST(l_extendedprice AS DECIMAL(12,2))
                      * (1 - CAST(l_discount AS DECIMAL(4,2))), 2) AS DOUBLE) AS revenue,
           CAST(ROUND(CAST(l_extendedprice AS DECIMAL(12,2))
                      * (1 - CAST(l_discount AS DECIMAL(4,2)))
                      * (1 + CAST(l_tax AS DECIMAL(4,2))), 2) AS DOUBLE) AS charged
    FROM lineitem
    """,
)
def q_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    one = F.lit(1).cast("decimal(4,2)")
    return t.lineitem.select(
        "l_orderkey",
        "l_linenumber",
        _r2d(_revenue_dec()).alias("revenue"),
        _r2d(_revenue_dec() * (one + _dec_rate("l_tax"))).alias("charged"),
    )


# --------------------------------------------------------------------------
# C3 filter predicates
# --------------------------------------------------------------------------
@declared(
    "q_filter",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
    FROM lineitem
    WHERE l_shipdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1996-12-31'
      AND l_quantity < 25
      AND l_returnflag IN ('A', 'R')
      AND NOT (l_linestatus = 'O' AND l_discount > 0.05)
    """,
)
def q_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate mix: BETWEEN, comparison, IN, AND/OR/NOT — all pushed to scan."""
    t = load_tables(spark, sf_dir)
    li = t.lineitem
    return li.filter(
        F.col("l_shipdate").between("1995-01-01", "1996-12-31")
        & (F.col("l_quantity") < 25)
        & F.col("l_returnflag").isin("A", "R")
        & ~((F.col("l_linestatus") == "O") & (F.col("l_discount") > 0.05))
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")


# --------------------------------------------------------------------------
# C4 hash equi inner join
# --------------------------------------------------------------------------
@declared(
    "q_join_inner",
    oracle="""
    SELECT c_mktsegment,
           COUNT(*) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_rev
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def q_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return (
        t.orders.join(t.customer, F.col("o_custkey") == F.col("c_custkey"), "inner")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            fxsum(fx100("o_totalprice"), 2).alias("total_rev"),
        )
    )


# --------------------------------------------------------------------------
# C5 multi-way join chain
# --------------------------------------------------------------------------
@declared(
    "q_join_multi",
    oracle="""
    SELECT r_name, n_name,
           CAST(ROUND(SUM((CAST(l_extendedprice AS DECIMAL(12,2))
                           * (1 - CAST(l_discount AS DECIMAL(4,2))))), 2) AS DOUBLE) AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    """,
)
def q_join_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-way star join; nation/region broadcast (fixed 25/5 rows at any SF).
    The 25-group revenue sum accumulates under decimal(38,0) (_fxsum_big):
    wrap-proof at any scale, measured at par with the long sum per row, and
    one aggregation level — the old two-level _agg2 paid an extra exchange
    whose input groups were already partition-local (r13: 0.479→0.324 s
    best-of-5 at sf0.1)."""
    t = load_tables(spark, sf_dir)
    joined = (
        t.lineitem.join(t.orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t.customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t.nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t.region), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return joined.groupBy("r_name", "n_name").agg(
        _fxsum_big(fx_revenue(), 4).alias("revenue"),
        F.count("*").alias("n_lines"),
    )


# --------------------------------------------------------------------------
# C6 outer joins
# --------------------------------------------------------------------------
@declared(
    "q_join_outer",
    oracle="""
    SELECT c_custkey,
           COUNT(o_orderkey) AS n_orders,
           CAST(ROUND(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(12,2))), 0), 2) AS DOUBLE)
               AS total_spend
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey
    """,
)
def q_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join keeping zero-order customers (COUNT(col) skips nulls)."""
    t = load_tables(spark, sf_dir)
    return (
        t.customer.join(t.orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(fxsum(fx100("o_totalprice"), 2), F.lit(0.0)).alias(
                "total_spend"
            ),
        )
    )


# --------------------------------------------------------------------------
# C7 semi / anti join
# --------------------------------------------------------------------------
@declared(
    "q_join_semi_anti",
    oracle="""
    SELECT 'has_orders' AS tag, c_custkey FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders)
    UNION ALL
    SELECT 'no_orders' AS tag, c_custkey FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    """,
)
def q_join_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    cond = F.col("c_custkey") == F.col("o_custkey")
    semi = (
        t.customer.join(t.orders, cond, "left_semi")
        .select(F.lit("has_orders").alias("tag"), "c_custkey")
    )
    anti = (
        t.customer.join(t.orders, cond, "left_anti")
        .select(F.lit("no_orders").alias("tag"), "c_custkey")
    )
    return semi.unionAll(anti)


# --------------------------------------------------------------------------
# C8 non-equi (range) join
# --------------------------------------------------------------------------
@declared(
    "q_join_range",
    oracle="""
    SELECT p_brand,
           COUNT(*) AS n_lines,
           CAST(ROUND(SUM((CAST(l_extendedprice AS DECIMAL(12,2))
                           * (1 - CAST(l_discount AS DECIMAL(4,2))))), 2) AS DOUBLE) AS revenue
    FROM lineitem JOIN part
      ON l_partkey = p_partkey AND l_quantity < p_size
    GROUP BY p_brand
    """,
)
def q_join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi key + range predicate: Spark plans the equi-hash join and applies
    the range residual as a post-join filter — no nested-loop blowup. The
    25-brand revenue sum accumulates under decimal(38,0) (_fxsum_big, see
    q_join_multi — wrap-proof, one aggregation level)."""
    t = load_tables(spark, sf_dir)
    joined = t.lineitem.join(
        t.part,
        (F.col("l_partkey") == F.col("p_partkey"))
        & (F.col("l_quantity") < F.col("p_size")),
    )
    return joined.groupBy("p_brand").agg(
        F.count("*").alias("n_lines"),
        _fxsum_big(fx_revenue(), 4).alias("revenue"),
    )


# --------------------------------------------------------------------------
# C9 cross join
# --------------------------------------------------------------------------
@declared(
    "q_cross",
    oracle="""
    SELECT r_name, COUNT(*) AS n_pairs
    FROM region CROSS JOIN nation
    GROUP BY r_name
    """,
)
def q_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return t.region.crossJoin(t.nation).groupBy("r_name").agg(F.count("*").alias("n_pairs"))


# --------------------------------------------------------------------------
# C10 as-of join (see operators/asof.py for the generic operator)
# --------------------------------------------------------------------------
@declared(
    "q_asof",
    oracle="""
    SELECT p.event_id,
           p.user_id,
           CAST(( SELECT MAX(c.ts) FROM events c
                  WHERE c.user_id = p.user_id
                    AND c.event_type = 'click'
                    AND c.ts <= p.ts ) AS VARCHAR) AS asof_click_ts
    FROM events p
    WHERE p.event_type = 'purchase'
    """,
)
def q_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the latest click ≤ its timestamp by
    the same user. Implemented with the union+window technique (operators/asof.py)
    — a single shuffle on (user_id), no range-explosion; scales to 100 TB where a
    range join would not. Oracle uses the equivalent correlated subquery."""
    from .asof import asof_join

    t = load_tables(spark, sf_dir)
    ev = t.events
    left = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    right = ev.filter(F.col("event_type") == "click").select("user_id", F.col("ts").alias("click_ts"))
    joined = asof_join(
        left, right, on="user_id", left_ts="ts", right_ts="click_ts", direction="backward"
    )
    return joined.select(
        "event_id",
        "user_id",
        F.col("click_ts").cast("string").alias("asof_click_ts"),
    )


# --------------------------------------------------------------------------
# C11 grouped aggregation — TPC-H Q1 shape (flagship / entry())
# --------------------------------------------------------------------------
@declared(
    "q_agg_group",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2)      AS sum_qty,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))), 2) AS DOUBLE)
               AS sum_base_price,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                          * (1 - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE)
               AS sum_disc_price,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                          * (1 - CAST(l_discount AS DECIMAL(4,2)))
                          * (1 + CAST(l_tax AS DECIMAL(4,2)))), 2) AS DOUBLE)
               AS sum_charge,
           ROUND(AVG(l_quantity), 4)      AS avg_qty,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*), 4)
               AS avg_price,
           ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / COUNT(*), 4)
               AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_agg_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 pricing summary: scan→filter→map-side partial agg→ONE
    exchange of pre-aggregated rows→final merge. The money sums accumulate
    under decimal(38,0) (_fxsum_big): wrap-proof at any corpus size where a
    single-level long sum at 1e-6 fixed-point scale would silently wrap
    around sf~100-200. Values are bit-identical to the retired two-level
    _agg2 construction (integer/decimal addition is associative; l_quantity
    is integer-valued so its double sum is exact), which paid a second
    exchange for groups that were already partition-local (r13)."""
    t = load_tables(spark, sf_dir)
    base = t.lineitem.filter(F.col("l_shipdate") <= "1998-09-02")
    return base.groupBy("l_returnflag", "l_linestatus").agg(*_q1_exprs())


def _q1_exprs() -> list[F.Column]:
    """Q1's composite aggregate columns: stateless unresolved expressions,
    built per plan (the session memo serves repeat runs of the plan)."""
    n = F.count("*")
    qty = F.sum("l_quantity")

    def _dec_over_100(fx: F.Column) -> F.Column:
        return (
            F.sum(fx.cast("decimal(38,0)")) / F.lit(100).cast("decimal(3,0)")
        ).cast("double")

    return [
        F.round(qty, 2).alias("sum_qty"),
        _fxsum_big(fx100("l_extendedprice"), 2).alias("sum_base_price"),
        _fxsum_big(fx_revenue(), 4).alias("sum_disc_price"),
        _fxsum_big(fx_revenue() * (F.lit(100) + fx100("l_tax")), 6).alias(
            "sum_charge"
        ),
        F.round(qty / n, 4).alias("avg_qty"),
        F.round(_dec_over_100(fx100("l_extendedprice")) / n, 4).alias("avg_price"),
        F.round(_dec_over_100(fx100("l_discount")) / n, 4).alias("avg_disc"),
        n.alias("count_order"),
    ]


# --------------------------------------------------------------------------
# C12 global aggregate (+ C13 count distinct folded in)
# --------------------------------------------------------------------------
@declared(
    "q_agg_global",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           COUNT(DISTINCT l_orderkey) AS n_orders,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_price,
           MIN(l_extendedprice) AS min_price,
           MAX(l_extendedprice) AS max_price,
           ROUND(AVG(l_quantity), 4) AS avg_qty
    FROM lineitem
    """,
)
def q_agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return t.lineitem.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        _r2d(F.sum(_dec("l_extendedprice"))).alias("sum_price"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
    )


# --------------------------------------------------------------------------
# C13 DISTINCT
# --------------------------------------------------------------------------
@declared(
    "q_distinct",
    oracle="SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
)
def q_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return t.lineitem.select("l_returnflag", "l_linestatus").distinct()


# --------------------------------------------------------------------------
# C14 ROLLUP / grouping sets
# --------------------------------------------------------------------------
@declared(
    "q_rollup",
    oracle="""
    SELECT n_name, c_mktsegment,
           CAST(GROUPING(n_name) AS INT) AS g_nation,
           CAST(GROUPING(c_mktsegment) AS INT) AS g_seg,
           CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_bal,
           COUNT(*) AS n_cust
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY ROLLUP(n_name, c_mktsegment)
    """,
)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    joined = t.customer.join(F.broadcast(t.nation), F.col("c_nationkey") == F.col("n_nationkey"))
    return joined.rollup("n_name", "c_mktsegment").agg(
        F.grouping("n_name").cast("int").alias("g_nation"),
        F.grouping("c_mktsegment").cast("int").alias("g_seg"),
        fxsum(fx100("c_acctbal"), 2).alias("total_bal"),
        F.count("*").alias("n_cust"),
    ).select("n_name", "c_mktsegment", "g_nation", "g_seg", "total_bal", "n_cust")


# --------------------------------------------------------------------------
# C15 conditional / FILTER'd aggregates
# --------------------------------------------------------------------------
@declared(
    "q_agg_filter",
    oracle="""
    SELECT l_returnflag,
           CAST(ROUND(SUM(CASE WHEN l_discount > 0.05
                               THEN CAST(l_extendedprice AS DECIMAL(12,2))
                               ELSE 0 END), 2) AS DOUBLE) AS big_disc_price,
           CAST(SUM(CASE WHEN l_quantity >= 30 THEN 1 ELSE 0 END) AS BIGINT) AS n_bulk,
           COUNT(CASE WHEN l_tax = 0 THEN 1 END) AS n_taxfree
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_agg_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return t.lineitem.groupBy("l_returnflag").agg(
        _r2d(
            F.sum(
                F.when(F.col("l_discount") > 0.05, _dec("l_extendedprice")).otherwise(
                    F.lit(0).cast("decimal(12,2)")
                )
            )
        ).alias("big_disc_price"),
        F.sum(F.when(F.col("l_quantity") >= 30, 1).otherwise(0)).cast("bigint").alias("n_bulk"),
        F.count(F.when(F.col("l_tax") == 0, 1)).alias("n_taxfree"),
    )


# --------------------------------------------------------------------------
# C16 HAVING
# --------------------------------------------------------------------------
@declared(
    "q_having",
    oracle="""
    SELECT o_custkey, COUNT(*) AS n_orders
    FROM orders GROUP BY o_custkey HAVING COUNT(*) > 12
    """,
)
def q_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return (
        t.orders.groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"))
        .filter(F.col("n_orders") > 12)
    )


# --------------------------------------------------------------------------
# C17 approx distinct (rows-only: sketches differ across engines)
# --------------------------------------------------------------------------
@declared("q_approx_distinct")
def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ approx count distinct; exact-count cross-check lives in
    q_agg_global (hash-verified). Rows-only by design (SURVEY.md C17)."""
    t = load_tables(spark, sf_dir)
    return t.orders.agg(
        F.approx_count_distinct("o_custkey", 0.02).alias("approx_custkeys"),
        F.countDistinct("o_custkey").alias("exact_custkeys"),
    )


# --------------------------------------------------------------------------
# C18 ranking window functions
# --------------------------------------------------------------------------
@declared(
    "q_window_rank",
    oracle="""
    SELECT * FROM (
      SELECT o_custkey, o_orderkey,
             o_totalprice AS price,
             ROW_NUMBER() OVER w AS rn,
             RANK()       OVER w AS rk,
             DENSE_RANK() OVER w AS drk,
             NTILE(4)     OVER w AS quartile
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    ) WHERE rn <= 3
    """,
)
def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        t.orders.select(
            "o_custkey",
            "o_orderkey",
            F.col("o_totalprice").alias("price"),
            F.row_number().over(w).cast("bigint").alias("rn"),
            F.rank().over(w).cast("bigint").alias("rk"),
            F.dense_rank().over(w).cast("bigint").alias("drk"),
            F.ntile(4).over(w).cast("bigint").alias("quartile"),
        )
        .filter(F.col("rn") <= 3)
    )


# --------------------------------------------------------------------------
# C19 analytic window functions (lag/lead/first/last)
# --------------------------------------------------------------------------
@declared(
    "q_window_lag",
    oracle="""
    SELECT event_id, user_id,
           ROUND(value - LAG(value)  OVER w, 2) AS delta_prev,
           ROUND(LEAD(value) OVER w - value, 2) AS delta_next,
           ROUND(FIRST_VALUE(value) OVER w, 2)  AS first_val
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def q_window_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return t.events.select(
        "event_id",
        "user_id",
        F.round(F.col("value") - F.lag("value").over(w), 2).alias("delta_prev"),
        F.round(F.lead("value").over(w) - F.col("value"), 2).alias("delta_next"),
        F.round(F.first("value").over(w), 2).alias("first_val"),
    )


# --------------------------------------------------------------------------
# C20 framed window aggregates (running sums)
# --------------------------------------------------------------------------
@declared(
    "q_window_frame",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS DOUBLE)
               AS running_spend,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
                 / COUNT(*) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS avg_last3
    FROM orders
    """,
)
def q_window_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    ordering = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    running = ordering.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    last3 = ordering.rowsBetween(-2, Window.currentRow)
    return t.orders.select(
        "o_orderkey",
        "o_custkey",
        F.round(_fx2dec(F.sum(fx100("o_totalprice")).over(running), 2), 2)
        .cast("double")
        .alias("running_spend"),
        # no ROUND: both engines divide the identical (decimal-exact) sum by
        # the same count — bit-identical doubles; rounding would reintroduce
        # the midpoint disagreement (x.xx5 values)
        (
            _fx2dec(F.sum(fx100("o_totalprice")).over(last3), 2).cast("double")
            / F.count(F.lit(1)).over(last3)
        ).alias("avg_last3"),
    )


# --------------------------------------------------------------------------
# C21 sort with explicit null order + C22 limit/top-k
# --------------------------------------------------------------------------
@declared(
    "q_sort",
    oracle="""
    SELECT c_custkey, c_acctbal AS bal, c_mktsegment
    FROM customer
    ORDER BY bal DESC NULLS LAST, c_custkey ASC NULLS FIRST
    LIMIT 50
    """,
)
def q_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit NULLS order both sides (Spark ASC defaults NULLS FIRST, DuckDB
    NULLS LAST — SURVEY.md C21). LIMIT makes sort order observable under the
    driver's order-insensitive hash."""
    t = load_tables(spark, sf_dir)
    return (
        t.customer.select("c_custkey", F.col("c_acctbal").alias("bal"), "c_mktsegment")
        .orderBy(F.col("bal").desc_nulls_last(), F.col("c_custkey").asc_nulls_first())
        .limit(50)
    )


@declared(
    "q_topk",
    oracle="""
    SELECT p_partkey,
           CAST(ROUND(SUM((CAST(l_extendedprice AS DECIMAL(12,2))
                           * (1 - CAST(l_discount AS DECIMAL(4,2))))), 2) AS DOUBLE) AS revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_partkey
    ORDER BY revenue DESC, p_partkey
    LIMIT 10
    """,
)
def q_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K: Spark plans TakeOrderedAndProject — per-partition heaps, no full
    sort; the scalable pattern at 100 TB."""
    t = load_tables(spark, sf_dir)
    return (
        t.lineitem.join(t.part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_partkey")
        .agg(fxsum(fx_revenue(), 4).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("p_partkey"))
        .limit(10)
    )


# --------------------------------------------------------------------------
# C23 set operations
# --------------------------------------------------------------------------
@declared(
    "q_setops",
    oracle="""
    SELECT 'never_ordered' AS tag, k FROM (
        SELECT c_custkey AS k FROM customer
        EXCEPT
        SELECT o_custkey AS k FROM orders) t1
    UNION ALL
    SELECT 'active' AS tag, k FROM (
        SELECT c_custkey AS k FROM customer
        INTERSECT
        SELECT o_custkey AS k FROM orders) t2
    UNION ALL
    SELECT 'all_keys' AS tag, k FROM (
        SELECT c_custkey AS k FROM customer
        UNION
        SELECT o_custkey AS k FROM orders) t3
    """,
)
def q_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    cust = t.customer.select(F.col("c_custkey").alias("k"))
    ords = t.orders.select(F.col("o_custkey").alias("k"))
    never = cust.subtract(ords).select(F.lit("never_ordered").alias("tag"), "k")
    active = cust.intersect(ords).select(F.lit("active").alias("tag"), "k")
    allk = cust.union(ords).distinct().select(F.lit("all_keys").alias("tag"), "k")
    return never.unionAll(active).unionAll(allk)


# --------------------------------------------------------------------------
# C24 subqueries (scalar / IN / EXISTS — decorrelated by the planner)
# --------------------------------------------------------------------------
@declared(
    "q_subquery",
    oracle="""
    SELECT o.o_orderkey, o.o_totalprice AS price
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE o.o_totalprice > (
        SELECT CAST(SUM(CAST(o2.o_totalprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*)
        FROM orders o2 JOIN customer c2 ON o2.o_custkey = c2.c_custkey
        WHERE c2.c_nationkey = c.c_nationkey)
      AND EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey
                  AND l.l_quantity > 45)
    """,
)
def q_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery + EXISTS, expressed through spark.sql so
    Catalyst's decorrelation handles it exactly as DuckDB's planner does."""
    t = load_tables(spark, sf_dir)
    t.orders.createOrReplaceTempView("v_orders")
    t.customer.createOrReplaceTempView("v_customer")
    t.lineitem.createOrReplaceTempView("v_lineitem")
    return spark.sql(
        """
        SELECT o.o_orderkey, o.o_totalprice AS price
        FROM v_orders o JOIN v_customer c ON o.o_custkey = c.c_custkey
        WHERE o.o_totalprice > (
            -- long fixed-point sum (cents) ÷ 100 as exact decimal == the
            -- oracle's decimal sum bit-for-bit, but stays on the codegen
            -- fast path (sum(decimal(12,2)) would accumulate via BigDecimal).
            -- The unparameterized BROADCAST hint survives Catalyst's
            -- decorrelation and lands on the decorrelated per-nation
            -- aggregate (25 rows at any SF — nation count, not data size),
            -- turning the final re-attach join into a BroadcastHashJoin:
            -- without it the planner's size ESTIMATE for the aggregate is
            -- the orders⨝customer product, so the big side paid a full
            -- shuffle + two sorts for a 25-row probe (r14, guide §3.1).
            SELECT /*+ BROADCAST */
                   CAST(CAST(SUM(CAST(ROUND(o2.o_totalprice * 100) AS BIGINT))
                             AS DECIMAL(28,0)) / 100 AS DOUBLE) / COUNT(*)
            FROM v_orders o2 JOIN v_customer c2 ON o2.o_custkey = c2.c_custkey
            WHERE c2.c_nationkey = c.c_nationkey)
          AND EXISTS (SELECT 1 FROM v_lineitem l WHERE l.l_orderkey = o.o_orderkey
                      AND l.l_quantity > 45)
        """
    )


# --------------------------------------------------------------------------
# C25 CTEs
# --------------------------------------------------------------------------
@declared(
    "q_cte",
    oracle="""
    WITH cust_rev AS (
        SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS rev
        FROM orders GROUP BY o_custkey
    ), ranked AS (
        SELECT o_custkey, rev,
               ROW_NUMBER() OVER (ORDER BY rev DESC, o_custkey) AS rn
        FROM cust_rev
    )
    SELECT o_custkey, CAST(ROUND(rev, 2) AS DOUBLE) AS rev, CAST(rn AS BIGINT) AS rn
    FROM ranked WHERE rn <= 20
    """,
)
def q_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    # fixed-point long sum: same order (monotone scaling), exact value
    cust_rev = t.orders.groupBy("o_custkey").agg(
        F.sum(fx100("o_totalprice")).alias("rev_fx")
    )
    # rank-then-filter(rn<=20) == top-20-then-rank, but the latter plans as
    # TakeOrderedAndProject (per-partition heaps) instead of a global
    # single-partition window over every customer — the 100 TB-safe shape
    top20 = cust_rev.orderBy(F.col("rev_fx").desc(), F.col("o_custkey")).limit(20)
    w = Window.orderBy(F.col("rev_fx").desc(), F.col("o_custkey"))
    ranked = top20.select(
        "o_custkey", "rev_fx", F.row_number().over(w).cast("bigint").alias("rn")
    )
    return ranked.filter(F.col("rn") <= 20).select(
        "o_custkey",
        F.round(_fx2dec(F.col("rev_fx"), 2), 2).cast("double").alias("rev"),
        "rn",
    )


# --------------------------------------------------------------------------
# C26 CASE WHEN / COALESCE / NULLIF
# --------------------------------------------------------------------------
@declared(
    "q_case",
    oracle="""
    SELECT CASE WHEN o_orderpriority LIKE '1-%' THEN 'urgent'
                WHEN o_orderpriority LIKE '2-%' THEN 'high'
                ELSE 'normal' END AS bucket,
           COALESCE(NULLIF(o_orderstatus, 'O'), 'open') AS status,
           COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS total
    FROM orders
    GROUP BY 1, 2
    """,
)
def q_case(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    bucket = (
        F.when(F.col("o_orderpriority").like("1-%"), "urgent")
        .when(F.col("o_orderpriority").like("2-%"), "high")
        .otherwise("normal")
        .alias("bucket")
    )
    status = F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("O")), F.lit("open")).alias(
        "status"
    )
    return t.orders.groupBy(bucket, status).agg(
        F.count("*").alias("n"), fxsum(fx100("o_totalprice"), 2).alias("total")
    )


# --------------------------------------------------------------------------
# C27 string functions
# --------------------------------------------------------------------------
@declared(
    "q_string",
    oracle="""
    SELECT p_partkey,
           UPPER(p_name) AS up,
           LOWER(p_brand) AS lo,
           SUBSTRING(p_name, 1, 4) AS prefix,
           REPLACE(p_name, ' ', '_') AS snake,
           LENGTH(p_name) AS name_len,
           CONCAT(p_brand, ':', p_type) AS brand_type,
           TRIM(CONCAT('  ', p_name, '  ')) AS trimmed,
           string_split(p_name, ' ')[1] AS first_word,
           CAST(REGEXP_MATCHES(p_name, '(ring|bolt)$') AS INT) AS is_fastener
    FROM part
    """,
)
def q_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return t.part.select(
        "p_partkey",
        F.upper("p_name").alias("up"),
        F.lower("p_brand").alias("lo"),
        F.substring("p_name", 1, 4).alias("prefix"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("snake"),
        F.length("p_name").cast("bigint").alias("name_len"),
        F.concat(F.col("p_brand"), F.lit(":"), F.col("p_type")).alias("brand_type"),
        F.trim(F.concat(F.lit("  "), F.col("p_name"), F.lit("  "))).alias("trimmed"),
        F.split("p_name", " ").getItem(0).alias("first_word"),
        F.regexp_like(F.col("p_name"), F.lit("(ring|bolt)$")).cast("int").alias("is_fastener"),
    )


# --------------------------------------------------------------------------
# C28 date/time functions
# --------------------------------------------------------------------------
@declared(
    "q_date",
    oracle="""
    SELECT STRFTIME(DATE_TRUNC('month', o_orderdate), '%Y-%m-%d') AS month,
           CAST(EXTRACT(year FROM o_orderdate) AS INT) AS yr,
           CAST(EXTRACT(quarter FROM o_orderdate) AS INT) AS qtr,
           COUNT(*) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS revenue,
           STRFTIME(MIN(o_orderdate + INTERVAL 30 DAY), '%Y-%m-%d') AS min_due
    FROM orders
    GROUP BY 1, 2, 3
    """,
)
def q_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return (
        t.orders.groupBy(
            F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias("month"),
            F.year("o_orderdate").alias("yr"),
            F.quarter("o_orderdate").alias("qtr"),
        )
        .agg(
            F.count("*").alias("n_orders"),
            fxsum(fx100("o_totalprice"), 2).alias("revenue"),
            F.date_format(
                F.min(F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")), "yyyy-MM-dd"
            ).alias("min_due"),
        )
    )


# --------------------------------------------------------------------------
# C29 math functions
# --------------------------------------------------------------------------
@declared(
    "q_math",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(ROUND(CAST(l_extendedprice AS DECIMAL(12,2))
                      * (1 - CAST(l_discount AS DECIMAL(4,2))), 2) AS DOUBLE) AS rev,
           CAST(ABS(l_quantity - 25) AS DOUBLE) AS dist25,
           CAST(CEIL(l_discount * 100) AS BIGINT) AS disc_pct_ceil,
           CAST(FLOOR(l_quantity) AS BIGINT) AS qty_floor,
           ROUND(SQRT(l_extendedprice), 6) AS root_price,
           ROUND(LN(l_extendedprice + 1), 6) AS log_price,
           ROUND(POWER(l_discount, 2), 6) AS disc_sq,
           l_orderkey % 7 AS key_mod
    FROM lineitem
    """,
)
def q_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return t.lineitem.select(
        "l_orderkey",
        "l_linenumber",
        _r2d(_revenue_dec()).alias("rev"),
        F.abs(F.col("l_quantity") - 25).cast("double").alias("dist25"),
        F.ceil(F.col("l_discount") * 100).cast("bigint").alias("disc_pct_ceil"),
        F.floor("l_quantity").cast("bigint").alias("qty_floor"),
        F.round(F.sqrt("l_extendedprice"), 6).alias("root_price"),
        F.round(F.log(F.col("l_extendedprice") + 1), 6).alias("log_price"),
        F.round(F.pow("l_discount", 2), 6).alias("disc_sq"),
        (F.col("l_orderkey") % 7).alias("key_mod"),
    )


# --------------------------------------------------------------------------
# C30 casts
# --------------------------------------------------------------------------
@declared(
    "q_cast",
    oracle="""
    SELECT o_orderkey,
           CAST(FLOOR(o_totalprice) AS BIGINT) AS price_int,
           CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS order_day,
           CAST(SUBSTRING(o_orderpriority, 1, 1) AS INT) AS prio_num,
           CAST(o_custkey AS VARCHAR) AS custkey_str,
           CAST(CAST(o_totalprice AS DECIMAL(18, 2)) AS VARCHAR) AS price_dec
    FROM orders
    """,
)
def q_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Casts with dialect traps handled: double→int goes through FLOOR (DuckDB
    CAST rounds, Spark truncates — SURVEY.md §2.C tail)."""
    t = load_tables(spark, sf_dir)
    return t.orders.select(
        "o_orderkey",
        F.floor("o_totalprice").cast("bigint").alias("price_int"),
        F.col("o_orderdate").cast("date").cast("string").alias("order_day"),
        F.substring("o_orderpriority", 1, 1).cast("int").alias("prio_num"),
        F.col("o_custkey").cast("string").alias("custkey_str"),
        F.col("o_totalprice").cast("decimal(18,2)").cast("string").alias("price_dec"),
    )


# --------------------------------------------------------------------------
# C31 array functions
# --------------------------------------------------------------------------
@declared(
    "q_array",
    oracle="""
    SELECT o_custkey,
           ARRAY_TO_STRING(LIST_SORT(LIST(o_orderkey)), ',') AS okeys,
           CAST(LEN(LIST(o_orderkey)) AS INT) AS n_orders,
           ARRAY_TO_STRING(LIST_SORT(LIST(o_orderkey))[1:3], ',') AS first3,
           CAST(LIST_CONTAINS(LIST(o_orderkey), MIN(o_orderkey)) AS INT) AS has_min
    FROM orders
    GROUP BY o_custkey
    """,
)
def q_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_list → sort_array → slice/size/contains; arrays serialized to
    CSV strings so the value-hash is layout-independent (SURVEY.md §7.4)."""
    t = load_tables(spark, sf_dir)
    agg = t.orders.groupBy("o_custkey").agg(
        F.sort_array(F.collect_list("o_orderkey")).alias("ok"),
        F.min("o_orderkey").alias("mn"),
    )
    return agg.select(
        "o_custkey",
        F.array_join(F.col("ok"), ",").alias("okeys"),
        F.size("ok").alias("n_orders"),
        F.array_join(F.slice(F.col("ok"), 1, 3), ",").alias("first3"),
        F.array_contains(F.col("ok"), F.col("mn")).cast("int").alias("has_min"),
    )


# --------------------------------------------------------------------------
# C31b explode/unnest round-trip
# --------------------------------------------------------------------------
@declared(
    "q_explode",
    oracle="""
    WITH packed AS (
        SELECT o_custkey, LIST(o_orderkey) AS ok FROM orders GROUP BY o_custkey
    )
    SELECT o_custkey, UNNEST(ok) AS o_orderkey FROM packed
    """,
)
def q_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    packed = t.orders.groupBy("o_custkey").agg(F.collect_list("o_orderkey").alias("ok"))
    return packed.select("o_custkey", F.explode("ok").alias("o_orderkey"))


# --------------------------------------------------------------------------
# C32 struct functions
# --------------------------------------------------------------------------
@declared(
    "q_struct",
    oracle="""
    SELECT c_custkey,
           STRUCT_PACK(name := c_name, seg := c_mktsegment).name AS s_name,
           STRUCT_PACK(name := c_name, seg := c_mktsegment).seg AS s_seg,
           STRUCT_PACK(k := c_custkey, bal := ROUND(c_acctbal, 2)).bal AS s_bal
    FROM customer
    """,
)
def q_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    s1 = F.struct(F.col("c_name").alias("name"), F.col("c_mktsegment").alias("seg"))
    s2 = F.struct(F.col("c_custkey").alias("k"), F.round("c_acctbal", 2).alias("bal"))
    return t.customer.select(
        "c_custkey",
        s1.getField("name").alias("s_name"),
        s1.getField("seg").alias("s_seg"),
        s2.getField("bal").alias("s_bal"),
    )


# --------------------------------------------------------------------------
# C33 map functions
# --------------------------------------------------------------------------
@declared(
    "q_map",
    oracle="""
    SELECT user_id,
           CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
           CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase
    FROM events
    GROUP BY user_id
    """,
)
def q_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Genuine map construction/extraction on the Spark side (map_from_entries,
    element_at); oracle uses the equivalent conditional aggregation — the
    orthogonal formulation strengthens the differential test."""
    t = load_tables(spark, sf_dir)
    counts = t.events.groupBy("user_id", "event_type").agg(F.count("*").alias("cnt"))
    mapped = counts.groupBy("user_id").agg(
        F.map_from_entries(F.collect_list(F.struct("event_type", "cnt"))).alias("m")
    )
    return mapped.select(
        "user_id",
        F.coalesce(F.element_at(F.col("m"), "click"), F.lit(0)).alias("n_click"),
        F.coalesce(F.element_at(F.col("m"), "view"), F.lit(0)).alias("n_view"),
        F.coalesce(F.element_at(F.col("m"), "purchase"), F.lit(0)).alias("n_purchase"),
    )


# --------------------------------------------------------------------------
# C34 JSON extraction
# --------------------------------------------------------------------------
@declared(
    "q_json",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(REGEXP_EXTRACT(props, '"k":\\s*(-?\\d+)', 1) AS INT)) AS BIGINT) AS sum_k,
           COUNT(*) AS n
    FROM events
    GROUP BY event_type
    """,
)
def q_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark side uses real JSON path extraction (get_json_object); oracle
    parses the same field via regex — implementation-orthogonal parity."""
    t = load_tables(spark, sf_dir)
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return t.events.groupBy("event_type").agg(
        F.sum(k).cast("bigint").alias("sum_k"), F.count("*").alias("n")
    )


# --------------------------------------------------------------------------
# C35 sampling (rows-only: engine-specific even when seeded)
# --------------------------------------------------------------------------
@declared("q_sample")
def q_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return t.lineitem.sample(fraction=0.1, seed=42).select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )


@declared(
    "q_sample_det",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem
    WHERE md5(CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_linenumber AS VARCHAR)) < '1a'
    """,
)
def q_sample_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% hash sample (md5-of-key < '1a' ⇒ 26/256 ≈ 10.16%).
    Unlike seeded Bernoulli sampling (q_sample — engine- and partition-
    dependent even when seeded), the hash filter selects the SAME rows on any
    engine, partitioning, or cluster size — the reproducible train/eval-split
    primitive a training-data pipeline needs. Pure scan+filter: no shuffle,
    embarrassingly parallel at 100 TB, and downstream of column pruning the
    scan reads only the 2 key columns plus the payload."""
    t = load_tables(spark, sf_dir)
    key = F.concat_ws(
        "|",
        F.col("l_orderkey").cast("string"),
        F.col("l_linenumber").cast("string"),
    )
    return t.lineitem.filter(F.md5(key) < "1a").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )


# --------------------------------------------------------------------------
# C36 QUALIFY-equivalent (window filter)
# --------------------------------------------------------------------------
@declared(
    "q_qualify",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice AS price
    FROM orders
    QUALIFY ROW_NUMBER() OVER (PARTITION BY o_custkey
                               ORDER BY o_totalprice DESC, o_orderkey) = 1
    """,
)
def q_qualify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DuckDB QUALIFY sugar vs Spark's post-window filter — same semantics."""
    t = load_tables(spark, sf_dir)
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        t.orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", F.col("o_totalprice").alias("price"))
    )


# --------------------------------------------------------------------------
# C37 PIVOT / UNPIVOT
# --------------------------------------------------------------------------
@declared(
    "q_pivot",
    oracle="""
    SELECT user_id,
           CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS "click",
           CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS "view",
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS "purchase",
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS "error"
    FROM events
    GROUP BY user_id
    """,
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    pivoted = (
        t.events.groupBy("user_id")
        .pivot("event_type", ["click", "view", "purchase", "error"])
        .count()
        .na.fill(0, ["click", "view", "purchase", "error"])
    )
    return pivoted


@declared(
    "q_unpivot",
    oracle="""
    WITH wide AS (
      SELECT user_id,
             CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS "click",
             CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS "view"
      FROM events GROUP BY user_id)
    SELECT user_id, 'click' AS kind, "click" AS cnt FROM wide
    UNION ALL
    SELECT user_id, 'view' AS kind, "view" AS cnt FROM wide
    """,
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unpivot/melt via stack(); oracle spells it as UNION ALL."""
    t = load_tables(spark, sf_dir)
    wide = (
        t.events.groupBy("user_id")
        .pivot("event_type", ["click", "view"])
        .count()
        .na.fill(0, ["click", "view"])
    )
    return wide.select(
        "user_id",
        F.expr("stack(2, 'click', click, 'view', view) AS (kind, cnt)"),
    ).select("user_id", "kind", F.col("cnt").cast("bigint").alias("cnt"))


# --------------------------------------------------------------------------
# C38 VALUES / inline literal relation
# --------------------------------------------------------------------------
@declared(
    "q_values",
    oracle="""
    SELECT v.rname, CAST(v.weight AS BIGINT) AS weight, r.r_regionkey
    FROM (VALUES ('AFRICA', 10), ('ASIA', 20), ('EUROPE', 30)) AS v(rname, weight)
    JOIN region r ON r.r_name = v.rname
    """,
)
def q_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    vals = spark.createDataFrame(
        [("AFRICA", 10), ("ASIA", 20), ("EUROPE", 30)], ["rname", "weight"]
    )
    return vals.join(t.region, F.col("r_name") == F.col("rname")).select(
        "rname", "weight", "r_regionkey"
    )
