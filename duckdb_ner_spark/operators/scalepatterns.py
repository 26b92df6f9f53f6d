"""Scale patterns for operations OSS Spark has no native fast path for:
bucketed interval (range) joins and MERGE-style upserts.

Scale notes (100 TB):
- q_range_bucket: a naive interval join is a non-equi join ⇒ Spark plans a
  broadcast nested-loop (or cartesian) — O(|probe| × |intervals|). The
  bucketed form explodes each interval into its covered hour buckets and
  equi-joins on the bucket, then refines with the exact BETWEEN — a plain
  shuffled/broadcast hash join whose cost is O(|probe| + Σ interval-hours),
  the standard time-series decomposition. Bucket width is the tuning knob:
  width ≈ median interval length keeps the explode factor ~2×.
- q_upsert: the MERGE pattern without a table format: changes ⟗ base on the
  key, coalesce(change, base) — one co-partitioned full-outer join. With the
  base bucketed by key (see q_bucket_join) the join is shuffle-free on the
  base side, which is how a 100 TB compaction actually runs; table formats
  (Delta/Iceberg) wrap exactly this plan in transaction metadata.

Incremental view maintenance and event analytics follow: DSAR reports,
aggregates maintained under deletes, joins and MIN/MAX, time-weighted
averages, the Pareto skyline, peak concurrency, and RFM features.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans.registry import declared
from ..sources.catalog import load_tables

# --------------------------------------------------------------------------
# Bucketed range join: incident windows × events
# --------------------------------------------------------------------------

INCIDENT_STEP = 200  # every Nth event opens a 2-hour incident window

_RANGE_ORACLE = f"""
    WITH inc AS (
        SELECT event_id AS inc_id, ts AS s, ts + INTERVAL 2 HOUR AS e
        FROM events WHERE event_id % {INCIDENT_STEP} = 0
    )
    SELECT inc.inc_id,
           COUNT(ev.event_id) AS n_events,
           COUNT(DISTINCT ev.user_id) AS n_users
    FROM inc LEFT JOIN events ev ON ev.ts >= inc.s AND ev.ts < inc.e
    GROUP BY inc.inc_id
"""


@declared("q_range_bucket", oracle=_RANGE_ORACLE)
def q_range_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join via hour-bucket decomposition: each 2-hour incident
    window explodes into its ≤3 covered hour buckets; events equi-join on
    their own hour bucket; the exact [s, e) predicate refines. Result ==
    the oracle's plain non-equi join, plan == a hash join — no nested-loop
    anywhere (asserted in tests/test_scalepatterns.py). An event matches an
    incident through exactly one bucket (its own hour), so the refinement
    needs no dedup. LEFT join keeps empty windows at n_events = 0."""
    t = load_tables(spark, sf_dir)
    inc = t.events.filter(F.col("event_id") % INCIDENT_STEP == 0).select(
        F.col("event_id").alias("inc_id"),
        F.col("ts").alias("s"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("e"),
    )
    inc_b = inc.select(
        "inc_id",
        "s",
        "e",
        F.explode(
            F.sequence(
                F.date_trunc("hour", F.col("s")),
                F.date_trunc("hour", F.col("e")),
                F.expr("INTERVAL 1 HOUR"),
            )
        ).alias("bucket"),
    )
    ev = t.events.select(
        F.col("event_id").alias("ev_id"),
        F.col("user_id"),
        F.col("ts").alias("ev_ts"),
        F.date_trunc("hour", F.col("ts")).alias("bucket"),
    )
    joined = inc_b.join(
        ev,
        (inc_b.bucket == ev.bucket) & (ev.ev_ts >= inc_b.s) & (ev.ev_ts < inc_b.e),
        "left",
    )
    return joined.groupBy("inc_id").agg(
        F.count("ev_id").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )


# --------------------------------------------------------------------------
# MERGE-style upsert (update + insert batch applied to a base table)
# --------------------------------------------------------------------------

UPSERT_TOUCH = 100  # every Nth order gets a price revision
UPSERT_NEW = 50_000_000  # key offset for inserted rows

_UPSERT_ORACLE = f"""
    WITH merged AS (
        -- updates: every {UPSERT_TOUCH}th order re-priced ×1.1 (decimal-exact)
        SELECT o_orderpriority,
               CASE WHEN o_orderkey % {UPSERT_TOUCH} = 0
                    THEN CAST(o_totalprice AS DECIMAL(12,2)) * CAST(1.1 AS DECIMAL(2,1))
                    ELSE CAST(o_totalprice AS DECIMAL(12,2)) END AS price,
               CASE WHEN o_orderkey % {UPSERT_TOUCH} = 0 THEN 1 ELSE 0 END AS updated
        FROM orders
        UNION ALL
        -- inserts: one synthetic order per re-priced key
        SELECT 'NEW', CAST(100.00 AS DECIMAL(12,2)), 0
        FROM orders WHERE o_orderkey % {UPSERT_TOUCH} = 0
    )
    SELECT o_orderpriority,
           COUNT(*) AS n,
           CAST(SUM(updated) AS BIGINT) AS n_updated,
           CAST(ROUND(SUM(price), 2) AS DOUBLE) AS total_price
    FROM merged
    GROUP BY o_orderpriority
"""


@declared("q_upsert", oracle=_UPSERT_ORACLE)
def q_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO expressed as a full-outer join: a change batch (price
    revisions for every 100th order + brand-new synthetic orders) is applied
    to the base with coalesce(change, base) per column — matched rows take
    the change, unmatched changes insert, unmatched base passes through.
    Price math stays in the decimal domain end to end (double×1.1 would be
    engine-identical IEEE but its decimal re-cast could land on a midpoint;
    decimal×decimal is exact). The oracle replays the merge as UNION ALL +
    CASE — same multiset, orthogonal formulation."""
    t = load_tables(spark, sf_dir)
    base = t.orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.col("o_totalprice").cast("decimal(12,2)").alias("price"),
    )
    touched = base.filter(F.col("o_orderkey") % UPSERT_TOUCH == 0)
    changes = touched.select(
        "o_orderkey",
        "o_orderpriority",
        (F.col("price") * F.lit("1.1").cast("decimal(2,1)")).alias("price"),
        F.lit(1).alias("updated"),
    ).unionByName(
        touched.select(
            (F.col("o_orderkey") + UPSERT_NEW).alias("o_orderkey"),
            F.lit("NEW").alias("o_orderpriority"),
            F.lit("100.00").cast("decimal(12,2)").alias("price"),
            F.lit(0).alias("updated"),
        )
    )
    merged = base.alias("b").join(
        changes.alias("c"), on="o_orderkey", how="full_outer"
    ).select(
        F.coalesce(F.col("c.o_orderpriority"), F.col("b.o_orderpriority")).alias(
            "o_orderpriority"
        ),
        F.coalesce(F.col("c.price"), F.col("b.price")).alias("price"),
        F.coalesce(F.col("c.updated"), F.lit(0)).alias("updated"),
    )
    return merged.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        F.sum("updated").cast("bigint").alias("n_updated"),
        F.round(F.sum("price"), 2).cast("double").alias("total_price"),
    )


# --------------------------------------------------------------------------
# Salted skewed aggregation (deterministic two-level spray/collapse)
# --------------------------------------------------------------------------

_SALTED_ORACLE = """
    SELECT l_returnflag,
           COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_qty
    FROM lineitem
    GROUP BY l_returnflag
"""


@declared("q_skew_salted", oracle=_SALTED_ORACLE)
def q_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skewed-aggregation handling the oracle gate can verify: l_returnflag
    has only 3 values — the degenerate-cardinality case where a direct
    groupBy leaves 3 reducers doing all the work and AQE cannot help (it
    splits skewed JOIN partitions, not hot groupBy keys). The salted form
    (plans/skew.py) sprays each key over 16 deterministic salt buckets,
    partially aggregates, then collapses — result provably identical to the
    oracle's direct GROUP BY because decimal sums are order-insensitive.
    At 100 TB this is the shape for any hot-key rollup (per-language corpus
    stats, per-source counts)."""
    from ..plans.skew import salted_agg_sum

    t = load_tables(spark, sf_dir)
    df = t.lineitem.select(
        "l_returnflag", F.col("l_quantity").cast("decimal(12,2)").alias("q")
    )
    out = salted_agg_sum(df, ["l_returnflag"], "q", n_salts=16, count_alias="n",
                         sum_alias="total_qty")
    return out.select(
        "l_returnflag", "n", F.round("total_qty", 2).cast("double").alias("total_qty")
    )


# --------------------------------------------------------------------------
# Hopping (sliding) windows — each event lands in length/slide windows
# --------------------------------------------------------------------------

_HOP_ORACLE = """
    WITH starts AS (
        SELECT event_type, value,
               unnest([TIME_BUCKET(INTERVAL 30 MINUTE, ts),
                       TIME_BUCKET(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE])
                   AS ws
        FROM events
    )
    SELECT STRFTIME(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_value
    FROM starts
    GROUP BY 1, 2
"""


@declared("q_hop_window", oracle=_HOP_ORACLE)
def q_hop_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping-window aggregation (1-hour windows every 30 minutes): Spark's
    native sliding window() — each event contributes to length/slide = 2
    windows. The oracle replays the window assignment by explicit bucket
    arithmetic (an event's covering windows start at its 30-min bucket and
    one slide earlier); both engines epoch-align sub-day buckets, which
    q_time_bucket already pins for the tumbling case. Same plan shape as any
    windowed rollup: explode ×2 then one shuffle on (window, type)."""
    t = load_tables(spark, sf_dir)
    return (
        t.events.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(12,2)")), 2)
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


# --------------------------------------------------------------------------
# SCD2 dimension build: change log -> versioned rows with validity ranges
# --------------------------------------------------------------------------

_SCD2_ORACLE = """
    WITH d AS (
        SELECT user_id, event_type, ts, event_id,
               LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        FROM events
    ), r AS (
        SELECT user_id, event_type, ts,
               SUM(CASE WHEN prev IS NULL OR prev <> event_type THEN 1 ELSE 0 END)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id) AS run_id
        FROM d
    ), v AS (
        SELECT user_id, run_id, event_type,
               MIN(ts) AS vf, COUNT(*) AS n_events
        FROM r GROUP BY user_id, run_id, event_type
    )
    SELECT user_id, event_type,
           STRFTIME(vf, '%Y-%m-%d %H:%M:%S.%f') AS valid_from,
           STRFTIME(LEAD(vf) OVER (PARTITION BY user_id ORDER BY vf, run_id),
                    '%Y-%m-%d %H:%M:%S.%f') AS valid_to,
           LEAD(vf) OVER (PARTITION BY user_id ORDER BY vf, run_id) IS NULL AS is_current,
           n_events
    FROM v
"""


@declared("q_scd2", oracle=_SCD2_ORACLE)
def q_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2 build from a change log: collapse
    each user's consecutive run of the same event_type into one versioned
    row with [valid_from, valid_to) and an is_current flag — the standard
    dimension-build pattern a warehouse MERGE pipeline maintains.

    Scale notes (100 TB): everything is keyed on the entity id — one shuffle
    (windows and the run aggregate share the user_id partitioning, Catalyst
    reuses the exchange); skew = the longest single entity history, the
    irreducible lower bound for order-dependent versioning. Microsecond-
    precision validity bounds printed fixed-width on both engines.

    Tie order is PINNED (ADVICE r3): event_id is the secondary sort key in
    the run-segmentation window (and run_id in the validity window) in BOTH
    engines, so duplicate per-user timestamps in a regenerated dataset
    cannot silently diverge; test_scd2_duplicate_ts_ties pins the semantics
    on a synthetic tie corpus."""
    t = load_tables(spark, sf_dir)
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("event_type").over(w)
    runs = t.events.select("user_id", "event_type", "ts", "event_id").withColumn(
        "run_id",
        F.sum(
            F.when(prev.isNull() | (prev != F.col("event_type")), 1).otherwise(0)
        ).over(w),
    )
    vers = runs.groupBy("user_id", "run_id", "event_type").agg(
        F.min("ts").alias("vf"), F.count("*").alias("n_events")
    )
    w2 = Window.partitionBy("user_id").orderBy("vf", "run_id")
    nxt = F.lead("vf").over(w2)
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return vers.select(
        "user_id",
        "event_type",
        F.date_format("vf", fmt).alias("valid_from"),
        F.date_format(nxt, fmt).alias("valid_to"),
        nxt.isNull().alias("is_current"),
        "n_events",
    )


# --------------------------------------------------------------------------
# Join-key skew audit (pre-flight diagnostic for salting / skew-join hints)
# --------------------------------------------------------------------------

SKEW_TOP_K = 10

_SKEW_AUDIT_ORACLE = f"""
    WITH per_key AS (
        SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id
    ), tot AS (
        SELECT CAST(SUM(n) AS BIGINT) AS total,
               CAST(COUNT(*) AS BIGINT) AS n_keys
        FROM per_key
    ), ranked AS (
        SELECT p.user_id, CAST(p.n AS BIGINT) AS n, t.total, t.n_keys,
               ROW_NUMBER() OVER (ORDER BY p.n DESC, p.user_id) AS rnk,
               CAST(SUM(p.n) OVER (ORDER BY p.n DESC, p.user_id) AS BIGINT) AS cum_n
        FROM per_key p CROSS JOIN tot t
    )
    SELECT CAST(rnk AS BIGINT) AS rnk, user_id, n,
           CAST(n AS DOUBLE) / CAST(total AS DOUBLE) AS share,
           CAST(cum_n AS DOUBLE) / CAST(total AS DOUBLE) AS cum_share,
           CAST(n * n_keys AS DOUBLE) / CAST(total AS DOUBLE) AS x_mean
    FROM ranked WHERE rnk <= {SKEW_TOP_K}
"""


@declared("q_skew_audit", oracle=_SKEW_AUDIT_ORACLE)
def q_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew audit — the pre-flight diagnostic for q_skew_salted and
    AQE skew-join tuning: the top-10 heaviest events.user_id keys with their
    row share, cumulative share, and multiple-of-mean (x_mean is the number
    AQE's skewedPartitionFactor compares against; keys with x_mean above the
    planned salt count need a bigger spray). Production loops run this on a
    deterministic sample before every big join of a new dataset — the cost
    of discovering skew here is one combiner-friendly aggregate; the cost of
    discovering it mid-shuffle is a straggler executor an hour in.

    Engine-exactness: all ratios divide exact bigint sums once; the ranking
    total order is pinned by (n DESC, user_id).

    Scale notes (100 TB): per-key counts are the canonical map-side-combine
    aggregate (the combiner collapses the hot key BEFORE the shuffle, so the
    audit itself cannot be skewed by the skew it measures); the ranking is a
    TakeOrdered top-K (per-partition K-row heaps merged on the driver — NO
    global window over key-cardinality rows), and rnk/cum_n are computed
    inside the K surviving rows. cum_n over the top-K equals the global
    running sum at those ranks because rank r's prefix only touches the top
    r rows. For billion-key corpora the same shape over a hash-sampled key
    subset bounds it further."""
    t = load_tables(spark, sf_dir)
    from pyspark.sql.window import Window

    per_key = t.events.groupBy("user_id").agg(F.count("*").alias("n"))
    tot = per_key.agg(
        F.sum("n").cast("bigint").alias("total"),
        F.count("*").cast("bigint").alias("n_keys"),
    )
    # TakeOrdered plans as per-partition top-K heaps; the window below then
    # runs over exactly SKEW_TOP_K rows (the q_cte/q_topk pattern), never
    # over the full key set.
    topk = per_key.orderBy(F.col("n").desc(), "user_id").limit(SKEW_TOP_K)
    win = Window.orderBy(F.col("n").desc(), "user_id")
    ranked = (
        topk.crossJoin(F.broadcast(tot))
        .withColumn("rnk", F.row_number().over(win))
        .withColumn("cum_n", F.sum("n").over(win).cast("bigint"))
    )
    total_d = F.col("total").cast("double")
    return ranked.filter(F.col("rnk") <= SKEW_TOP_K).select(
        F.col("rnk").cast("bigint").alias("rnk"),
        "user_id",
        F.col("n").cast("bigint").alias("n"),
        (F.col("n").cast("double") / total_d).alias("share"),
        (F.col("cum_n").cast("double") / total_d).alias("cum_share"),
        ((F.col("n") * F.col("n_keys")).cast("double") / total_d).alias("x_mean"),
    )


# --------------------------------------------------------------------------
# Ordered funnel analysis (view -> click -> purchase)
# --------------------------------------------------------------------------

_FUNNEL_ORACLE = """
    WITH e1 AS (
        SELECT user_id, ts, event_type,
               MIN(CASE WHEN event_type = 'view' THEN ts END)
                   OVER (PARTITION BY user_id) AS t1
        FROM events
    ), e2 AS (
        SELECT *, MIN(CASE WHEN event_type = 'click' AND ts > t1 THEN ts END)
                      OVER (PARTITION BY user_id) AS t2
        FROM e1
    ), e3 AS (
        SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts > t2 THEN ts END)
                      OVER (PARTITION BY user_id) AS t3
        FROM e2
    ), per_user AS (
        SELECT user_id, MIN(t1) AS t1, MIN(t2) AS t2, MIN(t3) AS t3
        FROM e3 GROUP BY user_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(COUNT(t1) AS BIGINT) AS n_view,
           CAST(COUNT(t2) AS BIGINT) AS n_click,
           CAST(COUNT(t3) AS BIGINT) AS n_purchase,
           COUNT(t2) * 1.0 / COUNT(t1) AS view_to_click,
           COUNT(t3) * 1.0 / COUNT(t2) AS click_to_purchase,
           COUNT(t3) * 1.0 / COUNT(t1) AS overall_conv
    FROM per_user
"""


@declared("q_funnel", oracle=_FUNNEL_ORACLE)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered 3-step funnel (view -> click -> purchase): a step counts only
    if it happens STRICTLY AFTER the user's previous step — the sequential
    dependency that separates a funnel from three independent filters. Each
    stage timestamp is the user's earliest qualifying event given the prior
    stage (t1 = first view; t2 = first click after t1; t3 = first purchase
    after t2).

    Plan shape (the 100 TB point): ONE shuffle of the events table — the
    three stage computations are stacked unordered window aggregates over
    the same user_id partitioning, and the per-user collapse reuses that
    partitioning (no second event-level exchange); only user-level rows
    reach the final 1-row aggregate. The naive form is three self-joins =
    three shuffles of the full fact table.

    Engine-exactness: stage timestamps are MIN over exact microsecond
    values; conversion rates are int*1.0/int — a single correctly-rounded
    division on identical operands."""
    t = load_tables(spark, sf_dir)
    per_user = funnel_user_stages(t.events)
    c1, c2, c3 = F.count("t1"), F.count("t2"), F.count("t3")
    return per_user.agg(
        F.count("*").cast("bigint").alias("n_users"),
        c1.cast("bigint").alias("n_view"),
        c2.cast("bigint").alias("n_click"),
        c3.cast("bigint").alias("n_purchase"),
        (c2 * F.lit(1.0) / c1).alias("view_to_click"),
        (c3 * F.lit(1.0) / c2).alias("click_to_purchase"),
        (c3 * F.lit(1.0) / c1).alias("overall_conv"),
    )


def funnel_user_stages(events: DataFrame) -> DataFrame:
    """Per-user funnel stage timestamps (user_id, t1, t2, t3) on an
    arbitrary events frame — q_funnel's windowed core, factored out for
    property tests."""
    w = Window.partitionBy("user_id")
    e = (
        events.select("user_id", "ts", "event_type")
        .withColumn(
            "t1", F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
        )
        .withColumn(
            "t2",
            F.min(
                F.when(
                    (F.col("event_type") == "click") & (F.col("ts") > F.col("t1")),
                    F.col("ts"),
                )
            ).over(w),
        )
        .withColumn(
            "t3",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase") & (F.col("ts") > F.col("t2")),
                    F.col("ts"),
                )
            ).over(w),
        )
    )
    return e.groupBy("user_id").agg(
        F.min("t1").alias("t1"), F.min("t2").alias("t2"), F.min("t3").alias("t3")
    )


# --------------------------------------------------------------------------
# Cohort retention (weekly cohorts x weekly activity offsets)
# --------------------------------------------------------------------------

# Fixed well-before-any-data anchor: offsets stay non-negative, so integer
# division is floor in both engines (DuckDB // floors, Spark div truncates
# toward zero — they only agree on non-negatives; a data-relative anchor
# could go negative under testdata regeneration).
COHORT_ANCHOR = "DATE '2000-01-03'"  # a Monday


_COHORT_ORACLE = f"""
    WITH f AS (
        SELECT user_id, ts,
               MIN(ts) OVER (PARTITION BY user_id) AS first_ts
        FROM events
    ), d AS (
        SELECT DISTINCT user_id,
               datediff('day', {COHORT_ANCHOR}, CAST(first_ts AS DATE)) // 7
                   AS cohort_id,
               datediff('day', CAST(first_ts AS DATE), CAST(ts AS DATE)) // 7
                   AS week_offset
        FROM f
    ), g AS (
        SELECT cohort_id, week_offset,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active
        FROM d GROUP BY cohort_id, week_offset
    )
    SELECT CAST(cohort_id AS BIGINT) AS cohort_id,
           CAST(week_offset AS BIGINT) AS week_offset,
           n_active,
           CAST(MAX(CASE WHEN week_offset = 0 THEN n_active END)
                    OVER (PARTITION BY cohort_id) AS BIGINT) AS n_cohort,
           n_active * 1.0 / MAX(CASE WHEN week_offset = 0 THEN n_active END)
                                OVER (PARTITION BY cohort_id) AS retention
    FROM g
"""


@declared("q_cohort_retention", oracle=_COHORT_ORACLE)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users are cohorted by the week of their
    first event, activity is bucketed by whole weeks since that first
    event, and each (cohort, offset) cell reports distinct active users
    against the cohort's size (its offset-0 cell — every user is active in
    their own first week by construction, so offset 0 IS the cohort
    census). The classic growth-analytics triangle.

    Engine-exactness: week ids are pure integer arithmetic on day diffs
    from a fixed pre-data anchor (non-negative, so floor-vs-truncate
    division divergence cannot bite — see COHORT_ANCHOR note); retention is
    int*1.0/int.

    Plan shape (100 TB): first-event timestamps ride the user_id
    partitioning (window min — one events shuffle); the DISTINCT collapses
    event-level rows to (user, cohort, offset) BEFORE the count-distinct
    aggregate, and the cohort-size lookup is a window over the tiny
    aggregated triangle, not a second pass over events."""
    t = load_tables(spark, sf_dir)
    w = Window.partitionBy("user_id")
    f = t.events.select("user_id", "ts").withColumn("first_ts", F.min("ts").over(w))
    d = f.select(
        "user_id",
        F.expr(f"datediff(CAST(first_ts AS DATE), {COHORT_ANCHOR}) div 7").alias(
            "cohort_id"
        ),
        F.expr("datediff(CAST(ts AS DATE), CAST(first_ts AS DATE)) div 7").alias(
            "week_offset"
        ),
    ).distinct()
    g = d.groupBy("cohort_id", "week_offset").agg(
        F.countDistinct("user_id").cast("bigint").alias("n_active")
    )
    wc = Window.partitionBy("cohort_id")
    census = F.max(F.when(F.col("week_offset") == 0, F.col("n_active"))).over(wc)
    return g.select(
        F.col("cohort_id").cast("bigint").alias("cohort_id"),
        F.col("week_offset").cast("bigint").alias("week_offset"),
        "n_active",
        census.cast("bigint").alias("n_cohort"),
        (F.col("n_active") * F.lit(1.0) / census).alias("retention"),
    )


# --------------------------------------------------------------------------
# Last-touch attribution (event-to-event as-of via RANGE-frame window)
# --------------------------------------------------------------------------

_ATTRIBUTION_ORACLE = """
    WITH e AS (
        SELECT event_id, user_id, ts, event_type,
               MAX(CASE WHEN event_type = 'view' THEN ts END) OVER (
                   PARTITION BY user_id ORDER BY ts
                   RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS view_ts
        FROM events
    )
    SELECT event_id, user_id,
           ts AS purchase_ts, view_ts,
           epoch_us(ts) - epoch_us(view_ts) AS gap_us
    FROM e
    WHERE event_type = 'purchase' AND view_ts IS NOT NULL
"""


@declared("q_attribution", oracle=_ATTRIBUTION_ORACLE)
def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: every purchase is credited to the user's
    most recent view at-or-before it — the event-to-event as-of join of
    marketing analytics, expressed as ONE pass over the events fact.

    Tie determinism: the frame is RANGE (not ROWS) UNBOUNDED PRECEDING —
    a view sharing the purchase's exact timestamp is always inside the
    frame regardless of how the sort breaks the tie, so both engines see
    the identical frame contents (a ROWS frame would make same-microsecond
    ties an ordering lottery). Gap is exact integer microseconds
    (epoch_us/unix_micros) — no datediff boundary-counting semantics to
    diverge between engines.

    Plan shape (100 TB): one events shuffle (user_id partitioning for the
    running-max window), then a narrow filter; the naive form is a
    purchases-x-views non-equi self-join."""
    t = load_tables(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    e = t.events.select("event_id", "user_id", "ts", "event_type").withColumn(
        "view_ts",
        F.max(F.when(F.col("event_type") == "view", F.col("ts"))).over(w),
    )
    return e.filter(
        (F.col("event_type") == "purchase") & F.col("view_ts").isNotNull()
    ).select(
        "event_id",
        "user_id",
        F.col("ts").alias("purchase_ts"),
        "view_ts",
        F.expr("timestampdiff(MICROSECOND, view_ts, ts)").alias("gap_us"),
    )


# --------------------------------------------------------------------------
# Incremental aggregate maintenance (mergeable partial state)
# --------------------------------------------------------------------------

INCR_AGG_SPLIT = "TIMESTAMP '2024-01-15 00:00:00'"
INCR_FX = 1_000_000  # value fixed-point scale (sum order independence)


_INCR_AGG_ORACLE = f"""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(ROUND(value * {INCR_FX}) AS BIGINT)) AS BIGINT) AS total_fx,
           SUM(CAST(ROUND(value * {INCR_FX}) AS BIGINT)) * 1.0
               / (COUNT(*) * {INCR_FX}) AS avg_value
    FROM events
    GROUP BY event_type
"""


@declared("q_incr_agg", oracle=_INCR_AGG_ORACLE)
def q_incr_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance: the engine computes per-type
    totals as OLD STATE (events before a cutoff) merged with a NEW BATCH
    (events at/after it) — the two-phase partial-state shape of an
    incremental pipeline or materialized-view refresh — and must equal the
    oracle's direct one-pass aggregate. COUNT and SUM are mergeable
    partials; AVG is derived at read time from the merged sums (never
    merged itself — the classic incremental-view rule).

    Engine-exactness: values are quantized to 1e6 fixed-point BIGINT before
    summing, so the merge order (old+new vs one pass) and the shuffle's
    accumulation order cannot produce ulp drift; avg is one exact integer
    expression divided once.

    Plan shape (100 TB): each phase is a combiner-friendly aggregate over
    its time slice (partition pruning applies when events are date-
    partitioned); the merge re-aggregates a types-count-sized union."""
    t = load_tables(spark, sf_dir)
    fx = F.expr(f"CAST(ROUND(value * {INCR_FX}) AS BIGINT)")
    cutoff = F.expr(INCR_AGG_SPLIT)

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum(fx).cast("bigint").alias("total_fx"),
        )

    old_state = partial(t.events.filter(F.col("ts") < cutoff))
    new_batch = partial(t.events.filter(F.col("ts") >= cutoff))
    merged = (
        old_state.unionByName(new_batch)
        .groupBy("event_type")
        .agg(
            F.sum("n_events").cast("bigint").alias("n_events"),
            F.sum("total_fx").cast("bigint").alias("total_fx"),
        )
    )
    return merged.select(
        "event_type",
        "n_events",
        "total_fx",
        (F.col("total_fx") * F.lit(1.0) / (F.col("n_events") * F.lit(INCR_FX))).alias(
            "avg_value"
        ),
    )


# --------------------------------------------------------------------------
# Per-user rolling time-window features (RANGE frame on integer microseconds)
# --------------------------------------------------------------------------

ROLL_WINDOW_US = 7 * 24 * 3600 * 1_000_000  # 7 days in microseconds
ROLL_FX = 1_000_000  # value fixed-point scale


_ROLLING_ORACLE = f"""
    WITH e AS (
        SELECT event_id, user_id, ts,
               epoch_us(ts) AS ts_us,
               CAST(ROUND(value * {ROLL_FX}) AS BIGINT) AS v_fx
        FROM events
    )
    SELECT event_id, user_id, ts,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_7d,
           CAST(SUM(v_fx) OVER w AS BIGINT) AS value_7d_fx
    FROM e
    WINDOW w AS (
        PARTITION BY user_id ORDER BY ts_us
        RANGE BETWEEN {ROLL_WINDOW_US} PRECEDING AND CURRENT ROW
    )
"""


@declared("q_rolling_7d", oracle=_ROLLING_ORACLE)
def q_rolling_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user rolling 7-day activity features at every event — trailing
    event count and value sum — the feature-engineering pass behind
    velocity/abuse signals and activity models.

    Engine-exactness: the frame is a RANGE window over INTEGER epoch
    microseconds (epoch_us/timestampdiff from the epoch), so both engines
    evaluate the identical integer interval — no engine INTERVAL-arithmetic
    or tie-order hazard (RANGE includes all same-microsecond rows on both
    frame edges regardless of sort tiebreak); values are summed in 1e6
    fixed-point BIGINT.

    Plan shape (100 TB): one events shuffle (user_id partitioning), one
    per-partition ordered pass — Spark's WindowExec maintains the sliding
    frame incrementally; the naive form is a self-join on the time band
    (q_range_bucket's problem, needed only when the band join is BETWEEN
    two different tables)."""
    t = load_tables(spark, sf_dir)
    e = t.events.select(
        "event_id",
        "user_id",
        "ts",
        F.expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)").alias(
            "ts_us"
        ),
        F.expr(f"CAST(ROUND(value * {ROLL_FX}) AS BIGINT)").alias("v_fx"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-ROLL_WINDOW_US, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        "ts",
        F.count("*").over(w).cast("bigint").alias("n_7d"),
        F.sum("v_fx").over(w).cast("bigint").alias("value_7d_fx"),
    )


# --------------------------------------------------------------------------
# A/B experiment readout (two-proportion z, engine-exact)
# --------------------------------------------------------------------------

_AB_ORACLE = """
    WITH per_user AS (
        SELECT user_id, CAST(user_id % 2 AS BIGINT) AS arm,
               CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                       > SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                    THEN 1 ELSE 0 END AS conv
        FROM events GROUP BY user_id
    ), arms AS (
        SELECT CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
               CAST(SUM(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT) AS c0,
               CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
               CAST(SUM(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT) AS c1
        FROM per_user
    )
    SELECT n0, c0, c0 * 1.0 / NULLIF(n0, 0) AS rate0,
           n1, c1, c1 * 1.0 / NULLIF(n1, 0) AS rate1,
           (c0 * 1.0 / NULLIF(n0, 0) - c1 * 1.0 / NULLIF(n1, 0))
             / NULLIF(SQRT((c0 + c1) * 1.0 / (n0 + n1)
                    * (1.0 - (c0 + c1) * 1.0 / (n0 + n1))
                    * (1.0 / NULLIF(n0, 0) + 1.0 / NULLIF(n1, 0))), 0) AS z,
           ABS((c0 * 1.0 / NULLIF(n0, 0) - c1 * 1.0 / NULLIF(n1, 0))
             / NULLIF(SQRT((c0 + c1) * 1.0 / (n0 + n1)
                    * (1.0 - (c0 + c1) * 1.0 / (n0 + n1))
                    * (1.0 / NULLIF(n0, 0) + 1.0 / NULLIF(n1, 0))), 0)) > 1.96
               AS significant
    FROM arms
"""


@declared("q_ab_test", oracle=_AB_ORACLE)
def q_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: users split into two arms by a deterministic
    key hash (user_id parity — production uses the md5-threshold trick),
    per-arm conversion = a per-user outcome predicate (here "more purchases
    than clicks" — chosen because it stays non-degenerate at every testdata
    SF, where "any purchase" saturates to 100%; a real experiment plugs in
    its own predicate), and the two-proportion pooled
    z-statistic with the |z| > 1.96 call — the standard experiment-analysis
    rollup.

    Engine-exactness: the z formula chains correctly-rounded double ops
    (divisions, one sqrt — the IEEE-exact transcendental) over exact
    integer counts, with the IDENTICAL parenthesized expression tree on
    both engines, so the result is bit-equal without any rounding.

    Plan shape (100 TB): per-user conversion is one combiner-friendly
    aggregate over events; everything after runs on a 2-row (here 1-row
    pivoted) table."""
    t = load_tables(spark, sf_dir)
    n_p = F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
    n_c = F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
    per_user = t.events.groupBy("user_id").agg(
        F.when(n_p > n_c, 1).otherwise(0).alias("conv")
    )
    arms = per_user.select(
        (F.col("user_id") % 2).cast("bigint").alias("arm"), "conv"
    ).agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("bigint").alias("n0"),
        F.sum(F.when(F.col("arm") == 0, F.col("conv")).otherwise(0))
        .cast("bigint")
        .alias("c0"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("bigint").alias("n1"),
        F.sum(F.when(F.col("arm") == 1, F.col("conv")).otherwise(0))
        .cast("bigint")
        .alias("c1"),
    )
    # 1e0, not 1.0: Spark SQL parses the literal 1.0 as DECIMAL(2,1) (DuckDB
    # as DOUBLE) — the decimal division would change both dtype and rounding
    # NULLIF guards: an empty arm or a zero-variance outcome (p = 0 or 1)
    # yields NULL, not an ANSI divide-by-zero — undefined experiment, not a
    # crashed job (same guard on the oracle side)
    z = F.expr(
        "(c0 * 1e0 / NULLIF(n0, 0) - c1 * 1e0 / NULLIF(n1, 0))"
        " / NULLIF(SQRT((c0 + c1) * 1e0 / (n0 + n1)"
        "        * (1e0 - (c0 + c1) * 1e0 / (n0 + n1))"
        "        * (1e0 / NULLIF(n0, 0) + 1e0 / NULLIF(n1, 0))), 0)"
    )
    return arms.select(
        "n0",
        "c0",
        F.expr("c0 * 1e0 / NULLIF(n0, 0)").alias("rate0"),
        "n1",
        "c1",
        F.expr("c1 * 1e0 / NULLIF(n1, 0)").alias("rate1"),
        z.alias("z"),
        (F.abs(z) > 1.96).alias("significant"),
    )


# --------------------------------------------------------------------------
# Funnel step timing (exact percentile of integer-microsecond deltas)
# --------------------------------------------------------------------------

_FUNNEL_TIMING_ORACLE = """
    WITH e1 AS (
        SELECT user_id, ts, event_type,
               MIN(CASE WHEN event_type = 'view' THEN ts END)
                   OVER (PARTITION BY user_id) AS t1
        FROM events
    ), e2 AS (
        SELECT *, MIN(CASE WHEN event_type = 'click' AND ts > t1 THEN ts END)
                      OVER (PARTITION BY user_id) AS t2
        FROM e1
    ), e3 AS (
        SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts > t2 THEN ts END)
                      OVER (PARTITION BY user_id) AS t3
        FROM e2
    ), per_user AS (
        SELECT user_id, MIN(t1) AS t1, MIN(t2) AS t2, MIN(t3) AS t3
        FROM e3 GROUP BY user_id
    ), deltas AS (
        SELECT epoch_us(t2) - epoch_us(t1) AS d12_us,
               epoch_us(t3) - epoch_us(t2) AS d23_us,
               epoch_us(t3) - epoch_us(t1) AS d13_us
        FROM per_user WHERE t3 IS NOT NULL
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_completed,
           CAST(PERCENTILE_DISC(0.5) WITHIN GROUP (ORDER BY d12_us) AS BIGINT)
               AS median_view_to_click_us,
           CAST(PERCENTILE_DISC(0.5) WITHIN GROUP (ORDER BY d23_us) AS BIGINT)
               AS median_click_to_purchase_us,
           CAST(PERCENTILE_DISC(0.9) WITHIN GROUP (ORDER BY d13_us) AS BIGINT)
               AS p90_overall_us
    FROM deltas
"""


@declared("q_funnel_timing", oracle=_FUNNEL_TIMING_ORACLE)
def q_funnel_timing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel step timing: for users who complete the full
    view→click→purchase sequence, the median per-step delay and the p90
    end-to-end delay — the latency half of funnel analysis (q_funnel is the
    conversion half; both share funnel_user_stages' single-shuffle core).

    Engine-exactness: deltas are exact integer microseconds
    (epoch_us/timestampdiff), and PERCENTILE_DISC returns actual elements —
    no interpolation arithmetic anywhere."""
    t = load_tables(spark, sf_dir)
    deltas = (
        funnel_user_stages(t.events)
        .filter(F.col("t3").isNotNull())
        .select(
            F.expr("timestampdiff(MICROSECOND, t1, t2)").alias("d12_us"),
            F.expr("timestampdiff(MICROSECOND, t2, t3)").alias("d23_us"),
            F.expr("timestampdiff(MICROSECOND, t1, t3)").alias("d13_us"),
        )
    )
    return deltas.agg(
        F.count("*").cast("bigint").alias("n_completed"),
        F.expr(
            "CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY d12_us) AS BIGINT)"
        ).alias("median_view_to_click_us"),
        F.expr(
            "CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY d23_us) AS BIGINT)"
        ).alias("median_click_to_purchase_us"),
        F.expr(
            "CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY d13_us) AS BIGINT)"
        ).alias("p90_overall_us"),
    )


# --------------------------------------------------------------------------
# Activity-gap profiling (gaps-and-islands over integer hour indices)
# --------------------------------------------------------------------------

_GAPS_ORACLE = """
    WITH h AS (
        SELECT DISTINCT user_id, epoch_us(ts) // 3600000000 AS hour_idx
        FROM events
    ), g AS (
        SELECT user_id, hour_idx,
               hour_idx - LAG(hour_idx) OVER (PARTITION BY user_id ORDER BY hour_idx) - 1
                   AS gap
        FROM h
    )
    SELECT user_id,
           CAST(MIN(hour_idx) AS BIGINT) AS first_hour,
           CAST(MAX(hour_idx) AS BIGINT) AS last_hour,
           CAST(MAX(hour_idx) - MIN(hour_idx) + 1 AS BIGINT) AS span_hours,
           CAST(COUNT(*) AS BIGINT) AS active_hours,
           CAST(COALESCE(MAX(gap), 0) AS BIGINT) AS max_gap_hours,
           COUNT(*) * 1.0 / (MAX(hour_idx) - MIN(hour_idx) + 1) AS coverage
    FROM g GROUP BY user_id
"""


@declared("q_activity_gaps", oracle=_GAPS_ORACLE)
def q_activity_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user activity-gap profile: distinct active hours, the covered
    span, the longest inactivity streak, and the coverage ratio — the
    gaps-and-islands statistic behind retention/abuse heuristics and the
    planning input for time-series gap filling (how much zero-fill a
    resample would create).

    Engine-exactness: hours are pure integer epoch indices
    (epoch_us div 3.6e9 — no timezone or DST arithmetic), gaps are LAG
    diffs over that unique-per-user integer (total order, no tie hazard),
    and coverage is one int*1.0/int division.

    Plan shape (100 TB): DISTINCT collapses events to (user, hour) BEFORE
    any window — the event stream shuffles once on user_id and everything
    downstream is per-user-cardinality."""
    t = load_tables(spark, sf_dir)
    h = (
        t.events.select(
            "user_id",
            F.expr(
                "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
                " div 3600000000"
            ).alias("hour_idx"),
        )
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("hour_idx")
    g = h.withColumn("gap", F.col("hour_idx") - F.lag("hour_idx").over(w) - 1)
    return g.groupBy("user_id").agg(
        F.min("hour_idx").cast("bigint").alias("first_hour"),
        F.max("hour_idx").cast("bigint").alias("last_hour"),
        (F.max("hour_idx") - F.min("hour_idx") + 1).cast("bigint").alias("span_hours"),
        F.count("*").cast("bigint").alias("active_hours"),
        F.coalesce(F.max("gap"), F.lit(0)).cast("bigint").alias("max_gap_hours"),
        (F.count("*") * F.lit(1.0) / (F.max("hour_idx") - F.min("hour_idx") + 1)).alias(
            "coverage"
        ),
    )


# --------------------------------------------------------------------------
# Skew-safe per-group top-k (two-phase salted rank)
# --------------------------------------------------------------------------

TOPK_SALT = 4
TOPK_PER_GROUP = 3

_TOPK_SALTED_ORACLE = f"""
    SELECT source, doc_id, CAST(n_chars AS BIGINT) AS n_chars, rk FROM (
        SELECT source, doc_id, n_chars,
               CAST(ROW_NUMBER() OVER (PARTITION BY source
                    ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rk
        FROM documents
    ) WHERE rk <= {TOPK_PER_GROUP}
"""


@declared("q_topk_salted", oracle=_TOPK_SALTED_ORACLE)
def q_topk_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k with a TWO-PHASE SALTED rank — the skew-safe form of
    q_window_rank's per-group window. A plain PARTITION BY source window
    puts every row of a hot group through one task (the CommonCrawl-domain
    problem); here phase 1 ranks within (source, salt = doc_id % {TOPK_SALT})
    partitions and keeps k rows each — a hot group splits across
    {TOPK_SALT} parallel tasks — and phase 2 re-ranks only the ≤ k·salt
    survivors per group. Phase-1 per-salt top-k is a superset of the global
    top-k (any global top row is also top-k within its own salt), so the
    result is EXACTLY the unsalted rank — which is what the oracle runs.

    Engine-exactness: pure integers; the total order (n_chars DESC, doc_id)
    is salt-independent.

    Scale notes (100 TB): max window-partition size drops from |hot group|
    to |hot group| / {TOPK_SALT} in phase 1; phase 2 touches k·{TOPK_SALT}
    rows per group. Generalizes to any per-group aggregate with a mergeable
    partial (this is the manual form of what map-side combine does for
    associative aggregates, applied to rank, which has none)."""
    t = load_tables(spark, sf_dir)
    d = t.documents.select(
        "source",
        "doc_id",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        (F.col("doc_id") % TOPK_SALT).alias("salt"),
    )
    w1 = Window.partitionBy("source", "salt").orderBy(
        F.col("n_chars").desc(), "doc_id"
    )
    phase1 = (
        d.withColumn("r1", F.row_number().over(w1))
        .filter(F.col("r1") <= TOPK_PER_GROUP)
        .drop("r1", "salt")
    )
    w2 = Window.partitionBy("source").orderBy(F.col("n_chars").desc(), "doc_id")
    return (
        phase1.withColumn("rk", F.row_number().over(w2).cast("bigint"))
        .filter(F.col("rk") <= TOPK_PER_GROUP)
        .select("source", "doc_id", "n_chars", "rk")
    )


# --------------------------------------------------------------------------
# Event-time disorder audit (late-data diagnostic for streaming ingest)
# --------------------------------------------------------------------------

_OOO_ORACLE = """
    WITH e AS (
        SELECT user_id, event_id,
               epoch_us(ts) AS ts_us,
               MAX(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm_us
        FROM events
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN ts_us < hwm_us THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
           CAST(COALESCE(MAX(CASE WHEN ts_us < hwm_us THEN hwm_us - ts_us END), 0)
                AS BIGINT) AS max_lateness_us
    FROM e GROUP BY user_id
"""


def event_lateness(events: DataFrame) -> DataFrame:
    """(user_id, event_id, ts) → + ts_us / hwm_us / lateness_us (0 when
    on-time; first event per user has NULL hwm and lateness 0). The shared
    core of q_out_of_order and q_watermark_sizing, factored so tests can
    drive it with PLANTED disorder — the shipped testdata is globally
    time-ordered (streaming/events.py invariant), so on it both queries
    legitimately report zero lateness."""
    e = events.select(
        "user_id",
        "event_id",
        F.expr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
        ).alias("ts_us"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return e.withColumn("hwm_us", F.max("ts_us").over(w)).withColumn(
        "lateness_us",
        F.when(
            F.col("ts_us") < F.col("hwm_us"), F.col("hwm_us") - F.col("ts_us")
        ).otherwise(F.lit(0).cast("bigint")),
    )


@declared("q_out_of_order", oracle=_OOO_ORACLE)
def q_out_of_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time disorder audit: per user, how many events arrived with a
    timestamp OLDER than the user's high-water mark at that point in the
    append order (event_id), and the worst lateness. This is the
    measurement that SIZES a streaming watermark — withWatermark's delay
    should cover the observed p99.9 lateness, and this audit is how you
    know it (guessing low silently drops late rows; guessing high bloats
    state).

    Engine-exactness: the high-water mark is a MAX over integer epoch
    microseconds in a ROWS frame ending 1 PRECEDING — first event per user
    gets NULL (never late, matching the stream semantics that the first
    arrival defines the watermark); lateness is integer subtraction.

    Scale notes (100 TB): one events shuffle (user_id), one ordered pass
    per partition; the aggregate collapses to per-user rows before any
    further processing. The window is partitioned — never global."""
    t = load_tables(spark, sf_dir)
    marked = event_lateness(t.events)
    late = F.when(F.col("lateness_us") > 0, 1).otherwise(0)
    return marked.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum(late).cast("bigint").alias("n_late"),
        F.max("lateness_us").cast("bigint").alias("max_lateness_us"),
    )


# --------------------------------------------------------------------------
# Event-type transition matrix (first-order behavioral Markov counts)
# --------------------------------------------------------------------------

_TRANSITIONS_ORACLE = """
    WITH seq AS (
        SELECT user_id, event_type,
               LAG(event_type) OVER (PARTITION BY user_id
                   ORDER BY epoch_us(ts), event_id) AS prev_type
        FROM events
    ), pair AS (
        SELECT prev_type, event_type AS next_type FROM seq
        WHERE prev_type IS NOT NULL
    ), tot AS (
        SELECT prev_type, CAST(COUNT(*) AS BIGINT) AS n_from
        FROM pair GROUP BY prev_type
    )
    SELECT p.prev_type, p.next_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           t.n_from,
           COUNT(*) * 1e0 / t.n_from AS p_next
    FROM pair p JOIN tot t ON p.prev_type = t.prev_type
    GROUP BY p.prev_type, p.next_type, t.n_from
"""


@declared("q_transitions", oracle=_TRANSITIONS_ORACLE)
def q_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order event-type transition matrix: for each (prev → next)
    pair of consecutive per-user events, the count and the conditional
    probability P(next | prev) — the behavioral Markov model behind
    next-action prediction, funnel-anomaly alerts, and bot detection
    (bots have near-deterministic rows in this matrix; humans don't).

    Engine-exactness: the sequence order is pinned by (epoch_us, event_id)
    — integer keys, no timestamp tie ambiguity; probabilities are single
    1e0 divisions of exact BIGINT counts.

    Scale notes (100 TB): one events shuffle (user_id partitioning) for the
    LAG, then combiner aggregates onto a (types × types)-sized matrix; the
    conditional join broadcasts the types-sized row-total table."""
    t = load_tables(spark, sf_dir)
    e = t.events.select(
        "user_id",
        "event_type",
        F.expr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
        ).alias("ts_us"),
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    pair = (
        e.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .select("prev_type", F.col("event_type").alias("next_type"))
    )
    tot = pair.groupBy("prev_type").agg(F.count("*").cast("bigint").alias("n_from"))
    return (
        pair.groupBy("prev_type", "next_type")
        .agg(F.count("*").cast("bigint").alias("n"))
        .join(F.broadcast(tot), "prev_type")
        .select(
            "prev_type",
            "next_type",
            "n",
            "n_from",
            F.expr("n * 1e0 / n_from").alias("p_next"),
        )
    )


# --------------------------------------------------------------------------
# Watermark sizing: drop-rate as a function of allowed lateness
# --------------------------------------------------------------------------

WATERMARK_MENU_S = (0, 60, 3600)  # candidate withWatermark delays (seconds)

_WM_ORACLE = f"""
    WITH e AS (
        SELECT user_id,
               epoch_us(ts) AS ts_us,
               MAX(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm_us
        FROM events
    ), late AS (
        SELECT CASE WHEN ts_us < hwm_us THEN hwm_us - ts_us ELSE 0 END AS lateness_us
        FROM e
    ), menu AS (
        SELECT unnest([{", ".join(str(w) for w in WATERMARK_MENU_S)}]) AS w_seconds
    )
    SELECT CAST(m.w_seconds AS BIGINT) AS w_seconds,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN l.lateness_us > CAST(m.w_seconds AS BIGINT) * 1000000
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
           SUM(CASE WHEN l.lateness_us > CAST(m.w_seconds AS BIGINT) * 1000000
               THEN 1 ELSE 0 END) * 1e0 / COUNT(*) AS drop_rate
    FROM menu m CROSS JOIN late l
    GROUP BY m.w_seconds
"""


@declared("q_watermark_sizing", oracle=_WM_ORACLE)
def q_watermark_sizing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark sizing table: for each candidate withWatermark delay, how
    many events would be DROPPED as too-late (lateness beyond the delay,
    measured against the per-user append-order high-water mark — the
    q_out_of_order statistic turned into the decision table). This is the
    choose-your-tradeoff readout: delay 0 drops every out-of-order row;
    the cheapest delay with acceptable drop-rate is the watermark to ship.

    Engine-exactness: integer epoch-µs lateness vs integer thresholds; one
    1e0 division per menu row.

    Scale notes (100 TB): the lateness pass is q_out_of_order's single
    user-partitioned window; the 3-row menu is a JVM-side literal relation
    cross-joined in (no Python boundary), and the aggregate is
    map-side-combined per menu row."""
    t = load_tables(spark, sf_dir)
    late = event_lateness(t.events).select("lateness_us")
    menu = spark.range(1).select(
        F.explode(F.array(*[F.lit(w_) for w_ in WATERMARK_MENU_S])).alias("w_seconds")
    )
    dropped = F.when(
        F.col("lateness_us") > F.col("w_seconds").cast("bigint") * 1000000, 1
    ).otherwise(0)
    return (
        F.broadcast(menu)
        .crossJoin(late)
        .groupBy("w_seconds")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum(dropped).cast("bigint").alias("n_dropped"),
            (F.sum(dropped) * F.lit(1.0) / F.count("*")).alias("drop_rate"),
        )
        .select(
            F.col("w_seconds").cast("bigint").alias("w_seconds"),
            "n_events",
            "n_dropped",
            "drop_rate",
        )
    )


# --------------------------------------------------------------------------
# Hourly-series autocorrelation (seasonality diagnostics)
# --------------------------------------------------------------------------

AUTOCORR_LAGS = (1, 2, 3, 6, 12, 24)  # hours

_AUTOCORR_ORACLE = f"""
    WITH hourly AS (
        SELECT epoch_us(ts) // 3600000000 AS h, CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1
    ), lags AS (
        SELECT unnest([{", ".join(str(k) for k in AUTOCORR_LAGS)}]) AS k
    ), pairs AS (
        SELECT l.k, a.c AS x, b.c AS y
        FROM lags l
        JOIN hourly a ON TRUE
        JOIN hourly b ON b.h = a.h + l.k
    )
    SELECT CAST(k AS BIGINT) AS lag_h,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           (COUNT(*) * 1e0 * SUM(x * y) - SUM(x) * 1e0 * SUM(y))
             / (SQRT(COUNT(*) * 1e0 * SUM(x * x) - SUM(x) * 1e0 * SUM(x))
                * SQRT(COUNT(*) * 1e0 * SUM(y * y) - SUM(y) * 1e0 * SUM(y)))
               AS autocorr
    FROM pairs GROUP BY k
"""


@declared("q_autocorr", oracle=_AUTOCORR_ORACLE)
def q_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the hourly event-count series at a menu of lags —
    the seasonality diagnostic behind anomaly detection baselines and
    capacity planning (a strong lag-24 peak means build a
    same-hour-yesterday baseline; no structure means a flat threshold is
    the best you can do).

    Engine-exactness: hour ids and counts are exact integers; Pearson uses
    the moment formula over BIGINT sums (the q_stats pattern) with sqrt —
    the bit-exact transcendental — and fixed-order double arithmetic.

    Scale notes (100 TB): the corpus collapses to the HOURLY table (one
    combiner aggregate) before anything else; the lag self-join and the
    correlation run on that tiny series (8.8k rows/year), so the menu of
    lags costs nothing corpus-sized."""
    t = load_tables(spark, sf_dir)
    hourly = (
        t.events.select(
            F.expr(
                "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
                " div 3600000000"
            ).alias("h")
        )
        .groupBy("h")
        .agg(F.count("*").cast("bigint").alias("c"))
        .persist()  # both sides of every lag join
    )
    lags = spark.range(1).select(
        F.explode(F.array(*[F.lit(k) for k in AUTOCORR_LAGS])).alias("k")
    )
    a = hourly.select(F.col("h").alias("ha"), F.col("c").alias("x"))
    b = hourly.select(F.col("h").alias("hb"), F.col("c").alias("y"))
    pairs = (
        F.broadcast(lags)
        .join(a, F.expr("TRUE"))
        .join(b, F.expr("hb = ha + k"))
        .select("k", "x", "y")
    )
    n = F.count("*")
    sx, sy = F.sum("x"), F.sum("y")
    sxx = F.sum(F.expr("x * x"))
    syy = F.sum(F.expr("y * y"))
    sxy = F.sum(F.expr("x * y"))
    corr = (n * F.lit(1.0) * sxy - sx * F.lit(1.0) * sy) / (
        F.sqrt(n * F.lit(1.0) * sxx - sx * F.lit(1.0) * sx)
        * F.sqrt(n * F.lit(1.0) * syy - sy * F.lit(1.0) * sy)
    )
    return pairs.groupBy("k").agg(
        n.cast("bigint").alias("n_pairs"), corr.alias("autocorr")
    ).select(F.col("k").cast("bigint").alias("lag_h"), "n_pairs", "autocorr")


# --------------------------------------------------------------------------
# Per-user daily-velocity anomaly scores (abuse/bot triage)
# --------------------------------------------------------------------------

VELOCITY_TOP = 25

_VELOCITY_ORACLE = f"""
    WITH daily AS (
        SELECT user_id, epoch_us(ts) // 86400000000 AS day,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ), stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(c) AS BIGINT) AS s1,
               CAST(SUM(c * c) AS BIGINT) AS s2
        FROM daily
    ), scored AS (
        SELECT d.user_id, d.day, d.c,
               (d.c * 1e0 * t.n - t.s1)
                 / SQRT((t.s2 * 1e0 * t.n - t.s1 * 1e0 * t.s1)) AS z
        FROM daily d CROSS JOIN stats t
    )
    SELECT user_id, CAST(day AS BIGINT) AS day, c AS n_events, z
    FROM scored
    ORDER BY z DESC, user_id, day
    LIMIT {VELOCITY_TOP}
"""


@declared("q_velocity_anomaly", oracle=_VELOCITY_ORACLE)
def q_velocity_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-velocity anomaly triage: each (user, day) activity count scored
    against the corpus-wide daily-count distribution (z-like score from the
    moment formula), top offenders first — the first-pass bot/abuse queue.
    The z here is vs the GLOBAL (user, day) population: cheap, one pass; a
    per-user baseline variant partitions the stats by user with the same
    shape.

    Engine-exactness: daily counts are integer aggregates; the score is the
    moment formula over exact BIGINT sums (q_stats pattern: n·c − s1 over
    sqrt(n·s2 − s1²), equivalent ranking to the textbook z and exactly
    reproducible); top-k is TakeOrdered with a pinned total order.

    Scale notes (100 TB): the corpus collapses to (user, day) rows in one
    combiner aggregate; the 1-row stats broadcast back; TakeOrdered heaps
    pick the queue."""
    t = load_tables(spark, sf_dir)
    daily = (
        t.events.select(
            "user_id",
            F.expr(
                "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
                " div 86400000000"
            ).alias("day"),
        )
        .groupBy("user_id", "day")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    stats = daily.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("s1"),
        F.sum(F.expr("c * c")).cast("bigint").alias("s2"),
    )
    scored = daily.crossJoin(F.broadcast(stats)).select(
        "user_id",
        F.col("day").cast("bigint").alias("day"),
        F.col("c").alias("n_events"),
        F.expr("(c * 1e0 * n - s1) / SQRT(s2 * 1e0 * n - s1 * 1e0 * s1)").alias("z"),
    )
    return scored.orderBy(F.col("z").desc(), "user_id", "day").limit(VELOCITY_TOP)


# --------------------------------------------------------------------------
# Exponentially decayed activity (half-life features, exact powers of two)
# --------------------------------------------------------------------------

DECAY_SHIFT_CAP = 40  # ages beyond this contribute weight 0 (2^-40 ≈ 1e-12)

_DECAY_ORACLE = f"""
    WITH daily AS (
        SELECT user_id, epoch_us(ts) // 86400000000 AS day,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ), anchor AS (
        SELECT MAX(day) AS maxd FROM daily
    ), weighted AS (
        SELECT d.user_id, d.c,
               CASE WHEN a.maxd - d.day >= {DECAY_SHIFT_CAP} THEN CAST(0 AS BIGINT)
                    ELSE d.c << CAST({DECAY_SHIFT_CAP} - (a.maxd - d.day) AS INT)
               END AS w
        FROM daily d CROSS JOIN anchor a
    )
    SELECT user_id,
           CAST(SUM(c) AS BIGINT) AS n_events,
           CAST(SUM(w) AS BIGINT) AS decayed_fx,
           SUM(w) * 1e0 / {1 << DECAY_SHIFT_CAP} AS decayed_count
    FROM weighted GROUP BY user_id
"""


@declared("q_decay_sum", oracle=_DECAY_ORACLE)
def q_decay_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially decayed per-user activity with a 1-day half-life —
    the recency-weighted engagement feature (decayed_count = Σ c_day ·
    2^-age): yesterday counts half of today, and a burst a month ago is
    noise. The half-life form is the one decayed feature that admits EXACT
    arithmetic: weights are powers of two, so the weighted sum is an
    integer SHIFT-accumulate in 2^{DECAY_SHIFT_CAP} fixed point (no
    cross-engine exp()/pow() drift — the ln() lesson applied to decay),
    with ages ≥ {DECAY_SHIFT_CAP} days contributing exactly 0.

    Scale notes (100 TB): corpus → (user, day) combiner aggregate; the
    1-row anchor broadcasts; one more combiner aggregate to per-user rows.
    The shift-accumulate is also the MERGEABLE form: yesterday's per-user
    decayed_fx halves (one shift) and adds today's partial — the
    incremental-maintenance property q_incr_agg demonstrates for sums."""
    t = load_tables(spark, sf_dir)
    daily = (
        t.events.select(
            "user_id",
            F.expr(
                "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
                " div 86400000000"
            ).alias("day"),
        )
        .groupBy("user_id", "day")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    anchor = daily.agg(F.max("day").alias("maxd"))
    weighted = daily.crossJoin(F.broadcast(anchor)).select(
        "user_id",
        "c",
        F.expr(
            f"CASE WHEN maxd - day >= {DECAY_SHIFT_CAP} THEN CAST(0 AS BIGINT)"
            f" ELSE shiftleft(c, CAST({DECAY_SHIFT_CAP} - (maxd - day) AS INT)) END"
        ).alias("w"),
    )
    return weighted.groupBy("user_id").agg(
        F.sum("c").cast("bigint").alias("n_events"),
        F.sum("w").cast("bigint").alias("decayed_fx"),
        F.expr(f"SUM(w) * 1e0 / {1 << DECAY_SHIFT_CAP}").alias("decayed_count"),
    )


# --------------------------------------------------------------------------
# First-touch attribution (the acquisition-credit twin of q_attribution)
# --------------------------------------------------------------------------

_FIRST_TOUCH_ORACLE = """
    WITH e AS (
        SELECT event_id, user_id, ts, event_type,
               MIN(CASE WHEN event_type = 'view' THEN ts END) OVER (
                   PARTITION BY user_id ORDER BY ts
                   RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS first_view_ts
        FROM events
    )
    SELECT event_id, user_id,
           ts AS purchase_ts, first_view_ts,
           epoch_us(ts) - epoch_us(first_view_ts) AS age_us
    FROM e
    WHERE event_type = 'purchase' AND first_view_ts IS NOT NULL
"""


@declared("q_first_touch", oracle=_FIRST_TOUCH_ORACLE)
def q_first_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch attribution: every purchase credited to the user's
    EARLIEST view at-or-before it — the acquisition-credit model
    (q_attribution is the conversion-credit last-touch twin; real
    marketing stacks report both and split the difference). Same
    single-pass shape: a running MIN over the RANGE frame instead of the
    running MAX, so the tie rule and the one-events-shuffle plan carry
    over unchanged; age_us is how long the account took to convert from
    first exposure.

    Engine-exactness: RANGE frame (same-microsecond views always in-frame),
    integer-microsecond age.

    Scale notes (100 TB): identical to q_attribution — one user-partitioned
    window pass, narrow filter, no self-join."""
    t = load_tables(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    e = t.events.select("event_id", "user_id", "ts", "event_type").withColumn(
        "first_view_ts",
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w),
    )
    return e.filter(
        (F.col("event_type") == "purchase") & F.col("first_view_ts").isNotNull()
    ).select(
        "event_id",
        "user_id",
        F.col("ts").alias("purchase_ts"),
        "first_view_ts",
        F.expr("timestampdiff(MICROSECOND, first_view_ts, ts)").alias("age_us"),
    )


# --------------------------------------------------------------------------
# Seasonal activity profile (day-of-week x hour-of-day matrix)
# --------------------------------------------------------------------------

_SEASONAL_ORACLE = """
    WITH e AS (
        SELECT (epoch_us(ts) // 86400000000 + 4) % 7 AS dow,
               (epoch_us(ts) % 86400000000) // 3600000000 AS hod
        FROM events
    ), tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS total FROM e
    )
    SELECT CAST(dow AS BIGINT) AS dow,
           CAST(hod AS BIGINT) AS hod,
           CAST(COUNT(*) AS BIGINT) AS n,
           COUNT(*) * 1e0 / t.total AS share
    FROM e CROSS JOIN tot t
    GROUP BY dow, hod, t.total
"""


@declared("q_seasonal_profile", oracle=_SEASONAL_ORACLE)
def q_seasonal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal activity profile: the day-of-week × hour-of-day event-count
    matrix with corpus shares — the companion to q_autocorr (autocorr says
    THAT there is daily/weekly structure; this says WHAT it looks like,
    and is the baseline table a same-hour-last-week anomaly detector
    indexes into).

    Engine-exactness: dow/hod derived by pure integer arithmetic on epoch
    microseconds ((days + 4) % 7 anchors 1970-01-01 = Thursday) — no
    engine calendar/locale functions (DAYOFWEEK differs in week-start
    conventions across engines); one 1e0 division for share.

    Scale notes (100 TB): one combiner aggregate onto a 7×24 matrix; the
    1-row total broadcasts."""
    t = load_tables(spark, sf_dir)
    us = "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    e = t.events.select(
        F.expr(f"({us} div 86400000000 + 4) % 7").alias("dow"),
        F.expr(f"({us} % 86400000000) div 3600000000").alias("hod"),
    )
    tot = e.agg(F.count("*").cast("bigint").alias("total"))
    return (
        e.crossJoin(F.broadcast(tot))
        .groupBy("dow", "hod", "total")
        .agg(F.count("*").cast("bigint").alias("n"))
        .select(
            F.col("dow").cast("bigint").alias("dow"),
            F.col("hod").cast("bigint").alias("hod"),
            "n",
            F.expr("n * 1e0 / total").alias("share"),
        )
    )


# --------------------------------------------------------------------------
# GDPR data-subject access report (the read-side twin of q_erasure)
# --------------------------------------------------------------------------

DSAR_MOD = 100  # subjects = customers with c_custkey % DSAR_MOD == DSAR_REM
DSAR_REM = 7

_DSAR_ORACLE = f"""
    WITH subjects AS (
        SELECT c_custkey FROM customer
        WHERE c_custkey % {DSAR_MOD} = {DSAR_REM}
    ), c AS (
        SELECT 'customer' AS table_name,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COALESCE(SUM(c_custkey), 0) AS BIGINT) AS key_checksum,
               CAST(COALESCE(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)), 0)
                    AS BIGINT) AS cents_checksum
        FROM customer JOIN subjects USING (c_custkey)
    ), o AS (
        SELECT 'orders' AS table_name,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COALESCE(SUM(o_orderkey), 0) AS BIGINT) AS key_checksum,
               CAST(COALESCE(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)), 0)
                    AS BIGINT) AS cents_checksum
        FROM orders JOIN subjects ON o_custkey = c_custkey
    ), l AS (
        SELECT 'lineitem' AS table_name,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COALESCE(SUM(li.l_orderkey * 10 + li.l_linenumber), 0)
                    AS BIGINT) AS key_checksum,
               CAST(COALESCE(SUM(CAST(ROUND(li.l_extendedprice * 100) AS BIGINT)), 0)
                    AS BIGINT) AS cents_checksum
        FROM lineitem li
        JOIN orders ON li.l_orderkey = o_orderkey
        JOIN subjects ON o_custkey = c_custkey
    )
    SELECT * FROM c UNION ALL SELECT * FROM o UNION ALL SELECT * FROM l
"""


@declared("q_dsar_report", oracle=_DSAR_ORACLE)
def q_dsar_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GDPR data-subject access report (DSAR) — the READ side of the
    compliance pair whose delete side is q_erasure: for a subject set
    (1% of customers by key residue), account every row held about them
    across the relational graph — directly keyed rows (customer), 1-hop
    (orders via o_custkey), and 2-hop (lineitem via the orders join: data
    about a subject that carries no subject key itself, the case naive
    key-grep compliance tooling misses). Per table: row count, key
    checksum, money checksum in exact cents — the inventory a controller
    must produce and the fixture an erasure pass is verified against.

    Engine-exactness: checksums are integer sums (cents via the house
    ROUND(x*100) quantization); the lineitem key folds (orderkey,
    linenumber) into one BIGINT. Scale notes (100 TB): the subject list
    is broadcast into every fact join (semi-join pushdown shape — facts
    never reshuffle); each table contributes one map-side-combined
    aggregate; the 2-hop path reuses the orders->subject projection as
    the broadcast side of the lineitem probe."""
    t = load_tables(spark, sf_dir)
    subjects = t.customer.filter(
        F.col("c_custkey") % DSAR_MOD == DSAR_REM
    ).select("c_custkey")
    cents = lambda c: F.round(F.col(c) * 100).cast("bigint")  # noqa: E731

    def report(df: DataFrame, name: str, key: F.Column, money: F.Column) -> DataFrame:
        return df.agg(
            F.lit(name).alias("table_name"),
            F.count("*").cast("bigint").alias("n_rows"),
            F.coalesce(F.sum(key), F.lit(0)).cast("bigint").alias("key_checksum"),
            F.coalesce(F.sum(money), F.lit(0))
            .cast("bigint")
            .alias("cents_checksum"),
        )

    c = report(
        t.customer.join(F.broadcast(subjects), "c_custkey"),
        "customer",
        F.col("c_custkey"),
        cents("c_acctbal"),
    )
    subj_orders = t.orders.join(
        F.broadcast(subjects), F.col("o_custkey") == F.col("c_custkey")
    )
    o = report(subj_orders, "orders", F.col("o_orderkey"), cents("o_totalprice"))
    li = t.lineitem.join(
        F.broadcast(subj_orders.select("o_orderkey")),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    l_ = report(
        li,
        "lineitem",
        F.col("l_orderkey") * 10 + F.col("l_linenumber"),
        cents("l_extendedprice"),
    )
    return c.unionAll(o).unionAll(l_)


# --------------------------------------------------------------------------
# Retraction-aware incremental aggregate maintenance (the delete path)
# --------------------------------------------------------------------------

RETRACT_MOD = 100  # erased subjects: user_id % RETRACT_MOD == RETRACT_REM
RETRACT_REM = 7
RETRACT_FX = 1_000_000

_RETRACT_ORACLE = f"""
    SELECT event_type,
           CAST(SUM(CASE WHEN user_id % {RETRACT_MOD} <> {RETRACT_REM}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN user_id % {RETRACT_MOD} <> {RETRACT_REM}
                         THEN CAST(ROUND(value * {RETRACT_FX}) AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS total_fx,
           CAST(SUM(CASE WHEN user_id % {RETRACT_MOD} = {RETRACT_REM}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_retracted,
           CAST(SUM(CASE WHEN user_id % {RETRACT_MOD} = {RETRACT_REM}
                         THEN CAST(ROUND(value * {RETRACT_FX}) AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS retracted_fx
    FROM events
    GROUP BY event_type
    HAVING SUM(CASE WHEN user_id % {RETRACT_MOD} <> {RETRACT_REM}
                    THEN 1 ELSE 0 END) > 0
"""


@declared("q_incr_agg_delete", oracle=_RETRACT_ORACLE)
def q_incr_agg_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance under DELETES — the retraction
    path that completes the GDPR family (q_erasure prunes the dedup
    index, q_dsar_report inventories the subject's rows, THIS maintains
    the derived aggregates after the rows go): the engine takes the FULL
    materialized per-type state and merges NEGATED partials of the erased
    subjects' events (counts and fixed-point sums subtract; types whose
    count reaches zero drop out), and the hash gate proves the retracted
    state equals the oracle's direct aggregate over survivors — the
    materialized-view delete rule (SUM/COUNT are retractable partials;
    MIN/MAX are not and would need a recompute or an ordered sketch,
    documented here as the design boundary).

    Engine-exactness: every merged quantity is a 1e6-fixed-point BIGINT
    (the q_incr_agg precedent), so merge order — full-state-minus-deletes
    vs one pass — cannot drift an ulp.

    Scale notes (100 TB): the erased-subject partials aggregate only the
    delete slice (partition-prunable when events are user- or
    date-bucketed); the merge re-aggregates a types-sized union; no
    full-corpus recompute happens on the delete path — exactly why
    production view maintenance keeps retractable partials."""
    t = load_tables(spark, sf_dir)
    fx = F.expr(f"CAST(ROUND(value * {RETRACT_FX}) AS BIGINT)")
    erased = F.col("user_id") % RETRACT_MOD == RETRACT_REM

    full_state = t.events.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum(fx).cast("bigint").alias("total_fx"),
        F.lit(0).cast("bigint").alias("n_retracted"),
        F.lit(0).cast("bigint").alias("retracted_fx"),
    )
    retract = t.events.filter(erased).groupBy("event_type").agg(
        (-F.count("*")).cast("bigint").alias("n_events"),
        (-F.sum(fx)).cast("bigint").alias("total_fx"),
        F.count("*").cast("bigint").alias("n_retracted"),
        F.sum(fx).cast("bigint").alias("retracted_fx"),
    )
    return (
        full_state.unionByName(retract)
        .groupBy("event_type")
        .agg(
            F.sum("n_events").cast("bigint").alias("n_events"),
            F.sum("total_fx").cast("bigint").alias("total_fx"),
            F.sum("n_retracted").cast("bigint").alias("n_retracted"),
            F.sum("retracted_fx").cast("bigint").alias("retracted_fx"),
        )
        .filter(F.col("n_events") > 0)
    )


# --------------------------------------------------------------------------
# Time-weighted average: irregular-sample integration per entity
# --------------------------------------------------------------------------

TWA_CUTOFF = "TIMESTAMP '2024-01-02 00:00:00'"
TWA_BUCKET_CENTS = 500  # $5 histogram buckets over the per-user TWA

_TWA_ORACLE = f"""
    WITH e AS (
        SELECT user_id, event_id, epoch_us(ts) AS ts_us,
               CAST(ROUND(value * 100) AS BIGINT) AS cents
        FROM events WHERE ts < {TWA_CUTOFF}
    ), seg AS (
        SELECT user_id, cents,
               LEAD(ts_us) OVER (PARTITION BY user_id
                                 ORDER BY ts_us, event_id) - ts_us AS dt_us
        FROM e
    ), u AS (
        SELECT user_id,
               CAST(SUM(cents * dt_us) AS BIGINT) AS wsum,
               CAST(SUM(dt_us) AS BIGINT) AS tsum
        FROM seg WHERE dt_us IS NOT NULL
        GROUP BY user_id
        HAVING SUM(dt_us) > 0
    )
    SELECT CAST((wsum // tsum) // {TWA_BUCKET_CENTS} AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(wsum // tsum) AS BIGINT) AS twa_cents_sum
    FROM u GROUP BY 1
"""


@declared("q_twa", oracle=_TWA_ORACLE)
def q_twa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-WEIGHTED average over irregular samples — the canonical
    timeseries aggregate (billing meters, sensor states, position marks):
    each observation holds its value until the next one, so the mean must
    weight by HOLD DURATION, not sample count. Per user over day 1: the
    last-observation-carried-forward integral ÷ observed span, then a $5
    histogram over the per-user TWAs (per-user rows would be corpus-sized
    output; the histogram is the QA artifact).

    Engine-exactness: durations are integer epoch-microsecond differences;
    values are cents (ROUND(value*100), one IEEE multiply+round both
    engines); the integral Σ cents·Δt_us stays in BIGINT (≤5e15 per
    segment); TWA and bucket are floor divisions of non-negative BIGINTs
    (Spark div == DuckDB //). The LEAD tiebreak is (ts_us, event_id) —
    total order, no tie hazard; equal-timestamp segments get Δt=0 and
    contribute nothing, identically in both engines.

    Plan shape (100 TB): one events shuffle (user_id), one ordered
    per-partition pass for LEAD (WindowExec, partition-bounded), then two
    map-side-combined aggregates — no self-join, no global window. The
    classic wrong plan (events self-join on adjacent timestamps) is
    O(n·avg-run) shuffle; LEAD is O(n)."""
    t = load_tables(spark, sf_dir)
    e = t.events.filter(F.col("ts") < F.expr(TWA_CUTOFF)).select(
        "user_id",
        "event_id",
        F.expr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
        ).alias("ts_us"),
        F.expr("CAST(ROUND(value * 100) AS BIGINT)").alias("cents"),
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    seg = e.select(
        "user_id", "cents", (F.lead("ts_us").over(w) - F.col("ts_us")).alias("dt_us")
    ).filter(F.col("dt_us").isNotNull())
    u = (
        seg.groupBy("user_id")
        .agg(
            F.sum(F.col("cents") * F.col("dt_us")).cast("bigint").alias("wsum"),
            F.sum("dt_us").cast("bigint").alias("tsum"),
        )
        .filter(F.col("tsum") > 0)
    )
    return (
        u.select(F.expr("wsum div tsum").alias("twa_cents"))
        .groupBy(
            F.expr(f"CAST(twa_cents div {TWA_BUCKET_CENTS} AS BIGINT)").alias("bucket")
        )
        .agg(
            F.count("*").cast("bigint").alias("n_users"),
            F.sum("twa_cents").cast("bigint").alias("twa_cents_sum"),
        )
    )


# --------------------------------------------------------------------------
# Skyline (Pareto frontier): min price, max size over part
# --------------------------------------------------------------------------

SKYLINE_BUCKET_CENTS = 500  # $5 price buckets — the partition unit


def _skyline_oracle() -> str:
    W = SKYLINE_BUCKET_CENTS
    return f"""
    WITH pts AS (
        SELECT CAST(ROUND(p_retailprice * 100) AS BIGINT) AS pc, p_size AS s,
               CAST(COUNT(*) AS BIGINT) AS n_parts
        FROM part GROUP BY 1, 2
    ), g AS (
        SELECT pc // {W} AS b, pc, MAX(s) AS smax FROM pts GROUP BY 1, 2
    ), gw AS (
        SELECT b, pc, smax,
               MAX(smax) OVER (PARTITION BY b ORDER BY pc
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND 1 PRECEDING) AS m_in
        FROM g
    ), bw AS (
        SELECT b, MAX(bmax) OVER (ORDER BY b
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                           AND 1 PRECEDING) AS m_cross
        FROM (SELECT b, MAX(smax) AS bmax FROM g GROUP BY 1)
    )
    SELECT p.pc AS price_cents, p.s AS size, p.n_parts
    FROM pts p JOIN gw ON gw.pc = p.pc JOIN bw ON bw.b = gw.b
    WHERE NOT (COALESCE(gw.m_in, -1) >= p.s
               OR COALESCE(bw.m_cross, -1) >= p.s
               OR gw.smax > p.s)
"""


@declared("q_skyline", oracle=_skyline_oracle())
def q_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SKYLINE / Pareto-frontier query — the classic multi-criteria OLAP
    operator: parts for which no other part is both cheaper-or-equal AND
    bigger-or-equal (with one strict), i.e. the undominated (price, size)
    points a buyer would ever consider. Naive evaluation is the O(n²)
    dominance anti-join; this plan is the partitioned 2-D form: sort one
    dimension, running-max the other.

    Decomposition: dominated(pc,s) ⟺ max-size-at-strictly-cheaper ≥ s OR
    max-size-at-equal-price > s. Strictly-cheaper splits into same-bucket
    cheaper prices (per-bucket ROWS window over price-level maxima,
    partition-bounded) and strictly-lower buckets (ONE running max over
    the ≤(price-domain/{SKYLINE_BUCKET_CENTS}-cents) bucket summaries —
    the only global window, input bounded by the fixed price domain, and
    broadcast back to the points).

    Engine-exactness: prices as cents (ROUND(p*100), one IEEE multiply+
    round both engines), integer sizes, comparisons only — no float
    arithmetic; COALESCE(·,-1) is safe (sizes ≥ 1). Frames are ROWS over
    a per-(bucket,price) grouped table, so frame contents are unique-key
    deterministic.

    Plan shape (100 TB): two map-side-combined aggregates (points, price
    level), one partition-bounded window, one ~20-row global window, one
    broadcast join back — the fact table is scanned once and never
    self-joined. This is the standard distributed-skyline shape (local
    skyline per price block + block-summary cross-filter)."""
    W = SKYLINE_BUCKET_CENTS
    t = load_tables(spark, sf_dir)
    pts = (
        t.part.select(
            F.expr("CAST(ROUND(p_retailprice * 100) AS BIGINT)").alias("pc"),
            F.col("p_size").alias("s"),
        )
        .groupBy("pc", "s")
        .agg(F.count("*").cast("bigint").alias("n_parts"))
        .withColumn("b", F.expr(f"pc div {W}"))
    )
    g = pts.groupBy("b", "pc").agg(F.max("s").alias("smax"))
    w_in = (
        Window.partitionBy("b")
        .orderBy("pc")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    gw = g.select("b", "pc", "smax", F.max("smax").over(w_in).alias("m_in"))
    # bucket summaries: one tiny global running max (≤ price-domain/W rows)
    w_cross = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
    bw = (
        g.groupBy("b")
        .agg(F.max("smax").alias("bmax"))
        .select("b", F.max("bmax").over(w_cross).alias("m_cross"))
    )
    return (
        pts.join(gw.drop("b"), "pc")
        .join(F.broadcast(bw), "b")
        .filter(
            ~(
                (F.coalesce(F.col("m_in"), F.lit(-1)) >= F.col("s"))
                | (F.coalesce(F.col("m_cross"), F.lit(-1)) >= F.col("s"))
                | (F.col("smax") > F.col("s"))
            )
        )
        .select(F.col("pc").alias("price_cents"), F.col("s").alias("size"), "n_parts")
    )


# --------------------------------------------------------------------------
# Incremental JOIN maintenance (delta algebra, in-plan equivalence proof)
# --------------------------------------------------------------------------

IJ_O_MOD = 4  # orders with o_orderkey % 4 == 0 are the append batch
IJ_L_MOD = 3  # lineitem with l_suppkey % 3 == 0 are the append batch

_INCR_JOIN_ORACLE = f"""
    WITH o AS (
        SELECT o_orderkey, o_orderpriority,
               o_orderkey % {IJ_O_MOD} = 0 AS d
        FROM orders
    ), l AS (
        SELECT l_orderkey, l_suppkey % {IJ_L_MOD} = 0 AS d,
               CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents
        FROM lineitem
    ), full_agg AS (
        SELECT o.o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_full,
               CAST(SUM(l.cents) AS BIGINT) AS cents_full
        FROM o JOIN l ON o.o_orderkey = l.l_orderkey
        GROUP BY 1
    ), view_agg AS (
        SELECT o.o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(l.cents) AS BIGINT) AS c
        FROM o JOIN l ON o.o_orderkey = l.l_orderkey
        WHERE NOT o.d AND NOT l.d GROUP BY 1
    ), d1 AS (
        SELECT o.o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(l.cents) AS BIGINT) AS c
        FROM o JOIN l ON o.o_orderkey = l.l_orderkey
        WHERE o.d AND NOT l.d GROUP BY 1
    ), d2 AS (
        SELECT o.o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(l.cents) AS BIGINT) AS c
        FROM o JOIN l ON o.o_orderkey = l.l_orderkey
        WHERE NOT o.d AND l.d GROUP BY 1
    ), d3 AS (
        SELECT o.o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(l.cents) AS BIGINT) AS c
        FROM o JOIN l ON o.o_orderkey = l.l_orderkey
        WHERE o.d AND l.d GROUP BY 1
    ), maint AS (
        SELECT o_orderpriority,
               CAST(SUM(n) AS BIGINT) AS n_maint,
               CAST(SUM(c) AS BIGINT) AS cents_maint
        FROM (SELECT * FROM view_agg UNION ALL SELECT * FROM d1
              UNION ALL SELECT * FROM d2 UNION ALL SELECT * FROM d3)
        GROUP BY 1
    )
    SELECT f.o_orderpriority, f.n_full, f.cents_full,
           m.n_maint, m.cents_maint,
           CAST(m.n_maint - f.n_full AS BIGINT) AS n_diff,
           CAST(m.cents_maint - f.cents_full AS BIGINT) AS cents_diff
    FROM full_agg f JOIN maint m USING (o_orderpriority)
"""


@declared("q_incr_join", oracle=_INCR_JOIN_ORACLE)
def q_incr_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental JOIN maintenance — the delta-algebra rule that
    completes the IVM family (q_incr_agg appends, q_incr_agg_delete
    retractions, q_upsert/q_scd2 key merges): with both join sides
    growing, Δ(A⋈B) = ΔA⋈B_old ∪ A_old⋈ΔB ∪ ΔA⋈ΔB, and the maintained
    view is the OLD state MERGED with the three delta terms' partial
    aggregates — never a recompute. The query computes both paths over
    the orders⋈lineitem revenue rollup (append batches: every
    {IJ_O_MOD}th order, every {IJ_L_MOD}rd supplier's lines) and emits
    the per-priority equivalence proof IN-PLAN (n_diff/cents_diff
    columns, all zero) — the judge-checkable form of "maintenance ≡
    rebuild", the q_dedup_incr/q_erasure house pattern.

    Engine-exactness: integer counts and cents (ROUND(price*100), one
    IEEE multiply+round both engines); partial-aggregate merge is
    BIGINT summation — associative, order-free.

    Plan shape (100 TB): in production only the delta terms run per
    batch — ΔA and ΔB are batch-sized, so ΔA⋈B_old and A_old⋈ΔB are
    broadcast-delta probes of the big stored sides (co-located by join
    key if B_old is bucketed) and ΔA⋈ΔB is tiny; the view-sized term
    exists here only to prove the identity. Aggregates are map-side-
    combined partials merged by key — state per group is O(1)."""
    t = load_tables(spark, sf_dir)
    o = t.orders.select(
        "o_orderkey",
        "o_orderpriority",
        (F.col("o_orderkey") % IJ_O_MOD == 0).alias("d_o"),
    )
    line = t.lineitem.select(
        "l_orderkey",
        (F.col("l_suppkey") % IJ_L_MOD == 0).alias("d_l"),
        F.expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)").alias("cents"),
    )
    j = o.join(line, F.col("o_orderkey") == F.col("l_orderkey")).select(
        "o_orderpriority", "d_o", "d_l", "cents"
    ).persist()
    full_agg = j.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n_full"),
        F.sum("cents").cast("bigint").alias("cents_full"),
    )

    def term(cond) -> DataFrame:
        return (
            j.filter(cond)
            .groupBy("o_orderpriority")
            .agg(
                F.count("*").cast("bigint").alias("n"),
                F.sum("cents").cast("bigint").alias("c"),
            )
        )

    view_agg = term(~F.col("d_o") & ~F.col("d_l"))
    d1 = term(F.col("d_o") & ~F.col("d_l"))
    d2 = term(~F.col("d_o") & F.col("d_l"))
    d3 = term(F.col("d_o") & F.col("d_l"))
    maint = (
        view_agg.unionAll(d1)
        .unionAll(d2)
        .unionAll(d3)
        .groupBy("o_orderpriority")
        .agg(
            F.sum("n").cast("bigint").alias("n_maint"),
            F.sum("c").cast("bigint").alias("cents_maint"),
        )
    )
    return full_agg.join(maint, "o_orderpriority").select(
        "o_orderpriority",
        "n_full",
        "cents_full",
        "n_maint",
        "cents_maint",
        (F.col("n_maint") - F.col("n_full")).cast("bigint").alias("n_diff"),
        (F.col("cents_maint") - F.col("cents_full")).cast("bigint").alias("cents_diff"),
    )


# --------------------------------------------------------------------------
# Bucketed MIN/MAX maintenance under deletes: the retraction case
# q_incr_agg_delete leaves to plain partials, closed with the standard
# two-level answer
# --------------------------------------------------------------------------

# Delete slice: the q_incr_agg_delete / q_erasure GDPR convention.
MINMAX_MOD = 100
MINMAX_REM = 7
MINMAX_FX = 1_000_000
MINMAX_BUCKETS = 64  # level-1 partial granularity (user_id % 64)

_MINMAX_ORACLE = f"""
    WITH base AS (
        SELECT event_type, user_id % {MINMAX_BUCKETS} AS bucket,
               CAST(ROUND(value * {MINMAX_FX}) AS BIGINT) AS fx,
               CASE WHEN user_id % {MINMAX_MOD} = {MINMAX_REM}
                    THEN 1 ELSE 0 END AS erased
        FROM events
    ), state AS (
        SELECT event_type, bucket,
               MIN(fx) AS bmin, MAX(fx) AS bmax, MAX(erased) AS dirty
        FROM base GROUP BY 1, 2
    ), dirty_recompute AS (
        SELECT b.event_type, b.bucket, MIN(b.fx) AS bmin, MAX(b.fx) AS bmax
        FROM base b JOIN state s
          ON s.event_type = b.event_type AND s.bucket = b.bucket
        WHERE s.dirty = 1 AND b.erased = 0
        GROUP BY 1, 2
    ), merged AS (
        SELECT event_type, bucket, bmin, bmax FROM state WHERE dirty = 0
        UNION ALL
        SELECT event_type, bucket, bmin, bmax FROM dirty_recompute
    ), maint AS (
        SELECT event_type, CAST(MIN(bmin) AS BIGINT) AS min_fx_maint,
               CAST(MAX(bmax) AS BIGINT) AS max_fx_maint
        FROM merged GROUP BY 1
    ), counts AS (
        SELECT event_type,
               CAST(SUM(CASE WHEN dirty = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_clean_buckets,
               CAST(SUM(dirty) AS BIGINT) AS n_dirty_buckets
        FROM state GROUP BY 1
    ), rebuild AS (
        SELECT event_type, CAST(MIN(fx) AS BIGINT) AS min_fx_rebuild,
               CAST(MAX(fx) AS BIGINT) AS max_fx_rebuild
        FROM base WHERE erased = 0 GROUP BY 1
    )
    SELECT m.event_type, c.n_clean_buckets, c.n_dirty_buckets,
           m.min_fx_maint, m.max_fx_maint,
           r.min_fx_rebuild, r.max_fx_rebuild,
           CAST(m.min_fx_maint - r.min_fx_rebuild AS BIGINT) AS min_diff,
           CAST(m.max_fx_maint - r.max_fx_rebuild AS BIGINT) AS max_diff
    FROM maint m
    JOIN counts c ON c.event_type = m.event_type
    JOIN rebuild r ON r.event_type = m.event_type
"""


@declared("q_incr_minmax", oracle=_MINMAX_ORACLE)
def q_incr_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MIN/MAX maintenance under DELETES via two-level bucketed partials —
    the standard answer to the boundary q_incr_agg_delete documents
    (SUM/COUNT retract by merging negated partials; MIN/MAX cannot,
    because a deleted extremum's replacement is not derivable from the
    aggregate alone). The engine keeps per-(type, user_id % {MINMAX_BUCKETS})
    min/max partials (level 1); a delete marks only the buckets holding
    retracted rows dirty, and ONLY those buckets are recomputed from
    their own raw slice — clean buckets' partials are reused verbatim —
    before the level-2 merge. The in-plan proof columns (the q_incr_join
    maintenance≡rebuild idiom) compare the maintained extrema against a
    direct rebuild over survivors: min_diff = max_diff = 0 is part of the
    hash-verified result, and the clean/dirty census quantifies the work
    saved (deletes land on user_id ≡ {MINMAX_REM} (mod {MINMAX_MOD}), so
    only residues ≡ 3 (mod 4) of the {MINMAX_BUCKETS} buckets dirty —
    ~25% recomputed, 75% reused).

    Engine-exactness: values on the ×{MINMAX_FX} fixed-point BIGINT grid;
    MIN/MAX/counts over integers; buckets from non-negative user_id
    residues (Spark % == DuckDB % there).

    Scale notes (100 TB): level-1 partials are one map-side-combined
    aggregate over the corpus (the materialized state in production);
    the delete path reads ONLY dirty buckets — on a bucket-partitioned
    layout that is partition pruning, and the recompute is proportional
    to the delete footprint, not the corpus; the level-2 merge is
    |types|×|buckets| rows. The rebuild side exists here as the audit
    ground truth."""
    t = load_tables(spark, sf_dir)
    base = t.events.select(
        "event_type",
        (F.col("user_id") % MINMAX_BUCKETS).alias("bucket"),
        F.expr(f"CAST(ROUND(value * {MINMAX_FX}) AS BIGINT)").alias("fx"),
        (F.col("user_id") % MINMAX_MOD == MINMAX_REM)
        .cast("int")
        .alias("erased"),
    )
    state = base.groupBy("event_type", "bucket").agg(
        F.min("fx").alias("bmin"),
        F.max("fx").alias("bmax"),
        F.max("erased").alias("dirty"),
    )
    dirty_keys = state.filter(F.col("dirty") == 1).select(
        F.col("event_type").alias("d_type"), F.col("bucket").alias("d_bucket")
    )
    dirty_recompute = (
        base.filter(F.col("erased") == 0)
        .join(
            F.broadcast(dirty_keys),
            (F.col("event_type") == F.col("d_type"))
            & (F.col("bucket") == F.col("d_bucket")),
        )
        .groupBy("event_type", "bucket")
        .agg(F.min("fx").alias("bmin"), F.max("fx").alias("bmax"))
    )
    merged = (
        state.filter(F.col("dirty") == 0)
        .select("event_type", "bucket", "bmin", "bmax")
        .unionByName(dirty_recompute)
    )
    maint = merged.groupBy("event_type").agg(
        F.min("bmin").cast("bigint").alias("min_fx_maint"),
        F.max("bmax").cast("bigint").alias("max_fx_maint"),
    )
    counts = state.groupBy("event_type").agg(
        F.sum((F.col("dirty") == 0).cast("int"))
        .cast("bigint")
        .alias("n_clean_buckets"),
        F.sum("dirty").cast("bigint").alias("n_dirty_buckets"),
    )
    rebuild = (
        base.filter(F.col("erased") == 0)
        .groupBy(F.col("event_type").alias("r_type"))
        .agg(
            F.min("fx").cast("bigint").alias("min_fx_rebuild"),
            F.max("fx").cast("bigint").alias("max_fx_rebuild"),
        )
    )
    return (
        maint.join(counts, "event_type")
        .join(rebuild, F.col("event_type") == F.col("r_type"))
        .select(
            "event_type",
            "n_clean_buckets",
            "n_dirty_buckets",
            "min_fx_maint",
            "max_fx_maint",
            "min_fx_rebuild",
            "max_fx_rebuild",
            (F.col("min_fx_maint") - F.col("min_fx_rebuild"))
            .cast("bigint")
            .alias("min_diff"),
            (F.col("max_fx_maint") - F.col("max_fx_rebuild"))
            .cast("bigint")
            .alias("max_diff"),
        )
    )


# --------------------------------------------------------------------------
# q_max_concurrency — peak concurrent users per day via a TWO-LEVEL
# sweep line (hour partials + day carry), capacity planning over events
# --------------------------------------------------------------------------

_US_PER_HOUR = 3_600_000_000
_US_PER_DAY = 86_400_000_000

_CONCURRENCY_ORACLE = f"""
    WITH iv AS (
        SELECT user_id,
               epoch_us(ts) // {_US_PER_DAY} AS day,
               MIN(epoch_us(ts)) AS s,
               LEAST(MAX(epoch_us(ts)) + 1,
                     (epoch_us(ts) // {_US_PER_DAY} + 1) * {_US_PER_DAY} - 1)
                   AS e
        FROM events GROUP BY user_id, epoch_us(ts) // {_US_PER_DAY}
    ), bound AS (
        SELECT day, s AS te, 1 AS delta, user_id FROM iv
        UNION ALL
        SELECT day, e AS te, -1 AS delta, user_id FROM iv
    ), hour_local AS (
        SELECT day, te // {_US_PER_HOUR} AS hour, delta,
               SUM(delta) OVER (
                   PARTITION BY te // {_US_PER_HOUR}
                   ORDER BY te, delta DESC, user_id
               ) AS run
        FROM bound
    ), hourly AS (
        SELECT day, hour,
               CAST(MAX(run) AS BIGINT) AS local_max,
               CAST(SUM(delta) AS BIGINT) AS net
        FROM hour_local GROUP BY day, hour
    ), peak AS (
        SELECT day, hour,
               COALESCE(SUM(net) OVER (
                   PARTITION BY day ORDER BY hour
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) + local_max AS hour_max
        FROM hourly
    )
    SELECT CAST(day AS BIGINT) AS day,
           CAST(MAX(hour_max) AS BIGINT) AS max_concurrency,
           CAST(MIN(CASE WHEN hour_max = mx THEN hour END) AS BIGINT)
               AS peak_hour
    FROM (SELECT day, hour, hour_max,
                 MAX(hour_max) OVER (PARTITION BY day) AS mx
          FROM peak)
    GROUP BY day
"""


@declared("q_max_concurrency", oracle=_CONCURRENCY_ORACLE)
def q_max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PEAK CONCURRENCY per day (capacity planning): how many users are
    simultaneously active, where a user's daily activity interval is
    [first event, last event] — the classic sweep line (+1 at start, -1
    just after end; at an exact tie the +1 sorts first so a handoff
    instant counts both users), decomposed into the TWO-LEVEL shape that
    survives 100 TB: within-HOUR running sums give each hour's local max
    and net delta (windows partitioned by hour — the partition grain is
    the knob: finer buckets bound any partition), then a per-DAY carry
    (prefix sum over <= 24 hour rows) lifts local maxima to absolute
    concurrency, exactly like distributed prefix sums compose (block
    partials + block carry). Output per day: the max concurrency and the
    earliest peak hour.

    Engine-exactness: all arithmetic on integer epoch-microseconds
    (unix_micros / epoch_us — no timestamp-interval dialects); boundary
    order (te, delta DESC, user_id) is total; counts/sums BIGINT.

    Scale notes (100 TB): intervals are one map-side-combined aggregate
    per (user, day); the sweep shuffles two 4-column boundary rows per
    interval, partitioned by hour; the day-level carry runs over 24
    rows/day. No corpus-global window anywhere."""
    t = load_tables(spark, sf_dir)
    iv = (
        t.events.select(
            "user_id",
            # epoch microseconds via timestampdiff from the NTZ epoch —
            # the catalog's ts is TIMESTAMP_NTZ, which unix_micros rejects
            # (the q_rolling_7d idiom; DuckDB side is epoch_us)
            F.expr(
                "timestampdiff(MICROSECOND,"
                f" TIMESTAMP_NTZ '1970-01-01 00:00:00', ts) DIV {_US_PER_DAY}"
            ).alias("day"),
            F.expr(
                "timestampdiff(MICROSECOND,"
                " TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
            ).alias("te"),
        )
        .groupBy("user_id", "day")
        .agg(
            F.min("te").alias("s"),
            # clamp the exclusive end inside the day so a last-microsecond
            # event cannot leak a boundary row into the next day's hours
            F.least(
                F.max("te") + 1,
                (F.col("day") + 1) * _US_PER_DAY - 1,
            ).alias("e"),
        )
    )
    bound = iv.select(
        "day", F.col("s").alias("te"), F.lit(1).alias("delta"), "user_id"
    ).unionAll(
        iv.select(
            "day", F.col("e").alias("te"), F.lit(-1).alias("delta"), "user_id"
        )
    ).withColumn("hour", F.expr(f"te DIV {_US_PER_HOUR}"))
    run_w = Window.partitionBy("hour").orderBy(
        "te", F.desc("delta"), "user_id"
    )
    hour_rows = bound.withColumn("run", F.sum("delta").over(run_w))
    hourly = hour_rows.groupBy("day", "hour").agg(
        F.max("run").cast("bigint").alias("local_max"),
        F.sum("delta").cast("bigint").alias("net"),
    )
    carry_w = (
        Window.partitionBy("day")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    peak = hourly.select(
        "day",
        "hour",
        (
            F.coalesce(F.sum("net").over(carry_w), F.lit(0))
            + F.col("local_max")
        ).alias("hour_max"),
    )
    mx_w = Window.partitionBy("day")
    return (
        peak.withColumn("mx", F.max("hour_max").over(mx_w))
        .groupBy("day")
        .agg(
            F.max("hour_max").cast("bigint").alias("max_concurrency"),
            F.min(
                F.when(F.col("hour_max") == F.col("mx"), F.col("hour"))
            )
            .cast("bigint")
            .alias("peak_hour"),
        )
        .select(F.col("day").cast("bigint").alias("day"),
                "max_concurrency", "peak_hour")
    )


# --------------------------------------------------------------------------
# q_rfm_features — RFM feature assembly: recency/frequency/monetary per
# user, quintile scores from exact PERCENTILE_DISC thresholds, segment
# --------------------------------------------------------------------------

_US_PER_DAY_R12 = 86_400_000_000

_RFM_ORACLE = f"""
    WITH peruser AS (
        SELECT user_id,
               CAST(MAX(epoch_us(ts)) // {_US_PER_DAY_R12} AS BIGINT)
                   AS last_day,
               CAST(COUNT(*) AS BIGINT) AS f_cnt,
               CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS m_cents
        FROM events GROUP BY user_id
    ), anchor AS (
        SELECT CAST(MAX(last_day) AS BIGINT) AS max_day FROM peruser
    ), rfm AS (
        SELECT user_id,
               CAST((SELECT max_day FROM anchor) - last_day AS BIGINT)
                   AS r_days,
               f_cnt, m_cents
        FROM peruser
    ), th AS (
        SELECT
          CAST(percentile_disc(0.2) WITHIN GROUP (ORDER BY r_days) AS BIGINT) AS r20,
          CAST(percentile_disc(0.4) WITHIN GROUP (ORDER BY r_days) AS BIGINT) AS r40,
          CAST(percentile_disc(0.6) WITHIN GROUP (ORDER BY r_days) AS BIGINT) AS r60,
          CAST(percentile_disc(0.8) WITHIN GROUP (ORDER BY r_days) AS BIGINT) AS r80,
          CAST(percentile_disc(0.2) WITHIN GROUP (ORDER BY f_cnt) AS BIGINT) AS f20,
          CAST(percentile_disc(0.4) WITHIN GROUP (ORDER BY f_cnt) AS BIGINT) AS f40,
          CAST(percentile_disc(0.6) WITHIN GROUP (ORDER BY f_cnt) AS BIGINT) AS f60,
          CAST(percentile_disc(0.8) WITHIN GROUP (ORDER BY f_cnt) AS BIGINT) AS f80,
          CAST(percentile_disc(0.2) WITHIN GROUP (ORDER BY m_cents) AS BIGINT) AS m20,
          CAST(percentile_disc(0.4) WITHIN GROUP (ORDER BY m_cents) AS BIGINT) AS m40,
          CAST(percentile_disc(0.6) WITHIN GROUP (ORDER BY m_cents) AS BIGINT) AS m60,
          CAST(percentile_disc(0.8) WITHIN GROUP (ORDER BY m_cents) AS BIGINT) AS m80
        FROM rfm
    ), scored AS (
        SELECT r.user_id, r.r_days, r.f_cnt, r.m_cents,
               CAST(5 - ((r.r_days > t.r20)::INT + (r.r_days > t.r40)::INT
                       + (r.r_days > t.r60)::INT + (r.r_days > t.r80)::INT)
                    AS BIGINT) AS r_score,
               CAST(1 + (r.f_cnt > t.f20)::INT + (r.f_cnt > t.f40)::INT
                      + (r.f_cnt > t.f60)::INT + (r.f_cnt > t.f80)::INT
                    AS BIGINT) AS f_score,
               CAST(1 + (r.m_cents > t.m20)::INT + (r.m_cents > t.m40)::INT
                      + (r.m_cents > t.m60)::INT + (r.m_cents > t.m80)::INT
                    AS BIGINT) AS m_score
        FROM rfm r, th t
    )
    SELECT user_id, r_days, f_cnt, m_cents, r_score, f_score, m_score,
           CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
               || CAST(m_score AS VARCHAR) AS segment
    FROM scored
"""


@declared("q_rfm_features", oracle=_RFM_ORACLE)
def q_rfm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM FEATURE ASSEMBLY — the behavioral feature-store build step
    (recency / frequency / monetary, the canonical segmentation features):
    per user, days since last event (vs the corpus max day), event count,
    monetary value in exact cents (FLOOR(value*100 + 0.5) — the half-up
    idiom), quintile scores 1-5 per dimension from exact PERCENTILE_DISC
    thresholds (recency REVERSED — recent = 5), and the 3-digit segment
    label ('555' = best). Scores from > comparisons against the four
    quintile thresholds, so every engine agrees exactly (no NTILE — its
    ties are ordering-dependent).

    Engine-exactness: thresholds are exact order statistics of BIGINT
    columns (PERCENTILE_DISC picks an element, never interpolates);
    cents use one IEEE multiply + half-up floor; day arithmetic is
    integer epoch-microsecond division.

    Scale notes (100 TB): one map-side-combined aggregate builds the
    per-user frame; the threshold row is a global exact-percentile over
    the user-count-sized frame (rank-global — the production swap-in at
    10^9 users is approx_percentile, the q_len_quantile trade already
    documented) broadcast back as a 1-row cross join; scoring is
    map-side. The segment label feeds GROUP BY segmentation downstream
    without re-deriving features."""
    t = load_tables(spark, sf_dir)
    peruser = t.events.groupBy("user_id").agg(
        # ts is TIMESTAMP_NTZ (the catalog's events layout) — unix_micros
        # rejects NTZ, so use the scalepatterns timestampdiff idiom
        F.expr(
            "CAST(MAX(timestampdiff(MICROSECOND,"
            " TIMESTAMP_NTZ '1970-01-01 00:00:00', ts))"
            f" DIV {_US_PER_DAY_R12} AS BIGINT)"
        ).alias("last_day"),
        F.count("*").cast("bigint").alias("f_cnt"),
        F.sum(F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)"))
        .cast("bigint")
        .alias("m_cents"),
    )
    anchor = F.broadcast(
        peruser.agg(F.max("last_day").cast("bigint").alias("max_day"))
    )
    rfm = peruser.crossJoin(anchor).select(
        "user_id",
        (F.col("max_day") - F.col("last_day")).cast("bigint").alias("r_days"),
        "f_cnt",
        "m_cents",
    )
    th = F.broadcast(
        rfm.agg(
            *[
                F.expr(
                    f"CAST(percentile_disc({p}) WITHIN GROUP"
                    f" (ORDER BY {c}) AS BIGINT)"
                ).alias(f"{c[0]}{int(p * 100)}")
                for c in ("r_days", "f_cnt", "m_cents")
                for p in (0.2, 0.4, 0.6, 0.8)
            ]
        )
    )
    scored = rfm.crossJoin(th).select(
        "user_id",
        "r_days",
        "f_cnt",
        "m_cents",
        F.expr(
            "CAST(5 - (CAST(r_days > r20 AS INT) + CAST(r_days > r40 AS INT)"
            " + CAST(r_days > r60 AS INT) + CAST(r_days > r80 AS INT))"
            " AS BIGINT)"
        ).alias("r_score"),
        F.expr(
            "CAST(1 + CAST(f_cnt > f20 AS INT) + CAST(f_cnt > f40 AS INT)"
            " + CAST(f_cnt > f60 AS INT) + CAST(f_cnt > f80 AS INT)"
            " AS BIGINT)"
        ).alias("f_score"),
        F.expr(
            "CAST(1 + CAST(m_cents > m20 AS INT) + CAST(m_cents > m40 AS INT)"
            " + CAST(m_cents > m60 AS INT) + CAST(m_cents > m80 AS INT)"
            " AS BIGINT)"
        ).alias("m_score"),
    )
    return scored.select(
        "user_id",
        "r_days",
        "f_cnt",
        "m_cents",
        "r_score",
        "f_score",
        "m_score",
        F.concat(
            F.col("r_score").cast("string"),
            F.col("f_score").cast("string"),
            F.col("m_score").cast("string"),
        ).alias("segment"),
    )
