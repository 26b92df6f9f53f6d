"""Bucketed range join, merge/upsert, skyline, time-weighted average and
incremental join maintenance (operators/scalepatterns.py)."""

from collections import defaultdict
from decimal import ROUND_HALF_UP, Decimal

import duckdb
import pyspark.sql.functions as F

import duckdb_ner_spark.operators  # noqa: F401 — populate the registry
from duckdb_ner_spark.plans.registry import QUERIES
from tests.conftest import SF_SMOKE


def test_range_bucket_join_is_hash_not_nested_loop(spark):
    """The whole point of the bucket decomposition: the interval join must
    plan as an equi (hash/sort-merge) join — never a nested-loop or
    cartesian — because the bucket equality is a proper join key."""
    from duckdb_ner_spark.operators.scalepatterns import q_range_bucket
    from duckdb_ner_spark.plans.inspect import formatted_plan

    plan = formatted_plan(q_range_bucket(spark, SF_SMOKE))
    assert "NestedLoop" not in plan and "Cartesian" not in plan, plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_range_bucket_matches_naive_interval_join(spark):
    """Bucket-decomposed result == the naive non-equi join on the same data
    (here small enough to run the naive plan directly)."""
    from duckdb_ner_spark.operators.scalepatterns import INCIDENT_STEP, q_range_bucket
    from duckdb_ner_spark.sources.catalog import load_tables

    got = {r.inc_id: (r.n_events, r.n_users) for r in q_range_bucket(spark, SF_SMOKE).collect()}
    ev = load_tables(spark, SF_SMOKE).events
    inc = ev.filter(F.col("event_id") % INCIDENT_STEP == 0).select(
        F.col("event_id").alias("inc_id"),
        F.col("ts").alias("s"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("e"),
    )
    probe = ev.select(F.col("event_id").alias("ev_id"), "user_id", F.col("ts").alias("ev_ts"))
    naive = (
        inc.join(probe, (probe.ev_ts >= inc.s) & (probe.ev_ts < inc.e), "left")
        .groupBy("inc_id")
        .agg(F.count("ev_id").alias("n_events"), F.countDistinct("user_id").alias("n_users"))
    )
    expect = {r.inc_id: (r.n_events, r.n_users) for r in naive.collect()}
    assert got == expect and len(got) > 0


def test_upsert_counts_and_inserts(spark):
    from duckdb_ner_spark.operators.scalepatterns import UPSERT_TOUCH, q_upsert

    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    n_orders = orders.count()
    n_touched = orders.filter(F.col("o_orderkey") % UPSERT_TOUCH == 0).count()
    rows = q_upsert(spark, SF_SMOKE).collect()
    assert sum(r.n for r in rows) == n_orders + n_touched  # base + inserts
    assert sum(r.n_updated for r in rows) == n_touched
    new_row = next(r for r in rows if r.o_orderpriority == "NEW")
    assert new_row.n == n_touched and abs(new_row.total_price - 100.0 * n_touched) < 1e-9


def test_skew_salted_two_level_plan_and_parity(spark):
    """Salted agg: two shuffle stages (spray on (key, salt), collapse on key)
    and results identical to the direct aggregation."""
    from duckdb_ner_spark.operators.scalepatterns import q_skew_salted
    from duckdb_ner_spark.plans.inspect import plan_report
    from duckdb_ner_spark.sources.catalog import load_tables

    # cluster-scale plan shape: untouched scan (the default parallelism floor
    # adds one round-robin exchange on these one-split testdata files; at
    # 100 TB it is a no-op — see test_flagship_plan_is_single_shuffle)
    from duckdb_ner_spark.plans import cachereg

    spark.conf.set("spark.duckdb_ner.scanRepartition", "-1")
    try:
        cachereg.clear()
        df = q_skew_salted(spark, SF_SMOKE)
        assert plan_report(df).n_exchanges == 2
    finally:
        spark.conf.set("spark.duckdb_ner.scanRepartition", "0")
    got = {r.l_returnflag: (r.n, r.total_qty) for r in df.collect()}
    li = load_tables(spark, SF_SMOKE).lineitem
    direct = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.round(F.sum(F.col("l_quantity").cast("decimal(12,2)")), 2)
        .cast("double")
        .alias("total_qty"),
    )
    assert got == {r.l_returnflag: (r.n, r.total_qty) for r in direct.collect()}


def test_hop_window_double_counts_events(spark):
    """1-hour windows hopping every 30 min: every event lands in exactly 2
    windows, so the n-sum is exactly 2x the event count."""
    from duckdb_ner_spark.operators.scalepatterns import q_hop_window

    rows = q_hop_window(spark, SF_SMOKE).collect()
    n_events = spark.read.parquet(f"{SF_SMOKE}/events.parquet").count()
    assert sum(r.n for r in rows) == 2 * n_events


def test_scd2_version_chain_invariants(spark):
    """SCD2 output must form a gapless version chain per entity: exactly one
    is_current row per user, each valid_to equal to the next valid_from, and
    event counts summing to the user's event total."""
    import pyspark.sql.functions as F

    from duckdb_ner_spark.operators.scalepatterns import q_scd2
    from duckdb_ner_spark.sources.catalog import load_tables

    out = q_scd2(spark, SF_SMOKE)
    rows = out.collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    totals = {
        r.user_id: r.n
        for r in load_tables(spark, SF_SMOKE).events.groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    assert set(by_user) == set(totals)
    for uid, vs in by_user.items():
        vs.sort(key=lambda r: r.valid_from)
        assert sum(1 for r in vs if r.is_current) == 1
        assert vs[-1].is_current and vs[-1].valid_to is None
        for a, b in zip(vs, vs[1:]):
            assert a.valid_to == b.valid_from  # gapless, non-overlapping
        assert sum(r.n_events for r in vs) == totals[uid]


def test_scd2_duplicate_ts_ties(spark, tmp_path):
    """Duplicate per-user timestamps (absent from the generated testdata, so
    never exercised by the oracle gate) must resolve IDENTICALLY in Spark
    and the DuckDB oracle — event_id is the pinned secondary sort key in
    both engines' run-segmentation windows (ADVICE r3). Synthetic corpus
    puts ties both inside a run and exactly at a run boundary."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from duckdb_ner_spark.operators.scalepatterns import _SCD2_ORACLE, q_scd2

    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)
    s = datetime.timedelta(seconds=1)
    rows = [
        # user 1: tie at the FIRST event — event_id decides which type opens
        (10, t0, 1, "click", 1.0, "{}"),
        (11, t0, 1, "view", 1.0, "{}"),
        (12, t0 + 5 * s, 1, "view", 1.0, "{}"),
        # user 2: tie at a run boundary (click/view at the same instant)
        (20, t0, 2, "view", 1.0, "{}"),
        (21, t0 + s, 2, "click", 1.0, "{}"),
        (22, t0 + s, 2, "view", 2.0, "{}"),
        (23, t0 + 9 * s, 2, "view", 3.0, "{}"),
    ]
    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array([r[5] for r in rows], pa.string()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "events.parquet"), version="2.6")

    got = {
        (r.user_id, r.event_type, r.valid_from, r.valid_to, r.is_current, r.n_events)
        for r in q_scd2(spark, str(tmp_path)).collect()
    }
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{tmp_path}/events.parquet'")
    want = {tuple(r) for r in con.execute(_SCD2_ORACLE).fetchall()}
    assert got == want
    # pinned semantics: user 1 = click then view (event_id 10 first, so the
    # click run opens a ZERO-WIDTH version [t0, t0) and view is current);
    # user 2 = view, click, view (the boundary tie resolves click before 22).
    # A same-instant run pair shares valid_from, so sort ties by is_current
    # (the superseded zero-width version first).
    u1 = sorted((r for r in got if r[0] == 1), key=lambda r: (r[2], r[4]))
    u2 = sorted((r for r in got if r[0] == 2), key=lambda r: (r[2], r[4]))
    assert [r[1] for r in u1] == ["click", "view"]
    assert [r[5] for r in u1] == [1, 2]
    assert [r[1] for r in u2] == ["view", "click", "view"]
    assert [r[5] for r in u2] == [1, 1, 2]


def test_skew_audit_shares_are_consistent(spark):
    """q_skew_audit: ranks are dense from 1, shares are positive and sum to
    cum_share, cum_share is monotone and <=1, counts are non-increasing, and
    x_mean agrees with share * n_keys."""
    from tests.conftest import SF_SMOKE

    from duckdb_ner_spark.operators.scalepatterns import q_skew_audit

    rows = sorted(q_skew_audit(spark, SF_SMOKE).collect(), key=lambda r: r.rnk)
    assert [r.rnk for r in rows] == list(range(1, len(rows) + 1))
    running = 0.0
    prev_n = None
    for r in rows:
        assert r.share > 0
        running += r.share
        assert abs(r.cum_share - running) < 1e-9
        assert r.cum_share <= 1.0 + 1e-12
        if prev_n is not None:
            assert r.n <= prev_n
        prev_n = r.n
        assert r.x_mean > 0


def test_funnel_matches_python_recompute(spark):
    """q_funnel vs an independent pure-Python recompute of the sequential
    funnel (first view -> first later click -> first later purchase) over
    the same events — and the monotone step property."""
    from duckdb_ner_spark.operators.scalepatterns import q_funnel
    from duckdb_ner_spark.sources.catalog import load_tables

    ev = load_tables(spark, SF_SMOKE).events.select("user_id", "ts", "event_type").collect()
    by_user = {}
    for r in ev:
        by_user.setdefault(r.user_id, []).append((r.ts, r.event_type))
    n_view = n_click = n_purchase = 0
    ordering_matters = False
    for events in by_user.values():
        t1 = min((ts for ts, et in events if et == "view"), default=None)
        t2 = (
            min((ts for ts, et in events if et == "click" and ts > t1), default=None)
            if t1
            else None
        )
        t3 = (
            min((ts for ts, et in events if et == "purchase" and ts > t2), default=None)
            if t2
            else None
        )
        n_view += t1 is not None
        n_click += t2 is not None
        n_purchase += t3 is not None
        if t1 is not None and any(et == "click" and ts <= t1 for ts, et in events):
            ordering_matters = True  # a click the unordered version would count
    row = q_funnel(spark, SF_SMOKE).collect()[0]
    assert (row.n_users, row.n_view, row.n_click, row.n_purchase) == (
        len(by_user),
        n_view,
        n_click,
        n_purchase,
    )
    assert row.n_purchase <= row.n_click <= row.n_view <= row.n_users
    assert abs(row.overall_conv - n_purchase / n_view) < 1e-15
    assert ordering_matters, "corpus has no pre-view clicks; funnel test is vacuous"


def test_cohort_retention_census_and_bounds(spark):
    """q_cohort_retention: offset-0 cell equals the cohort census, every
    cell's retention is in (0, 1], and cohort sizes sum to the distinct
    user count."""
    from duckdb_ner_spark.operators.scalepatterns import q_cohort_retention
    from duckdb_ner_spark.sources.catalog import load_tables

    rows = q_cohort_retention(spark, SF_SMOKE).collect()
    zero = {r.cohort_id: r for r in rows if r.week_offset == 0}
    for r in rows:
        assert r.n_cohort == zero[r.cohort_id].n_active
        assert 0 < r.retention <= 1.0
        assert r.n_active <= r.n_cohort  # nobody is active who never started
        assert r.week_offset >= 0
    assert zero[min(zero)].retention == 1.0
    n_users = load_tables(spark, SF_SMOKE).events.select("user_id").distinct().count()
    assert sum(r.n_active for r in zero.values()) == n_users


def test_attribution_last_touch_semantics(spark):
    """Planted events: the purchase credits the LATEST at-or-before view
    (same-timestamp view counts, gap 0); purchases with no preceding view
    are excluded; a later view never attributes backwards."""
    import datetime as dt

    from duckdb_ner_spark.operators.scalepatterns import q_attribution
    from duckdb_ner_spark.sources.catalog import load_tables

    rows = q_attribution(spark, SF_SMOKE).collect()
    ev = load_tables(spark, SF_SMOKE).events.select(
        "event_id", "user_id", "ts", "event_type"
    ).collect()
    views = {}
    for r in ev:
        if r.event_type == "view":
            views.setdefault(r.user_id, []).append(r.ts)
    expect = {}
    for r in ev:
        if r.event_type == "purchase":
            prior = [t for t in views.get(r.user_id, []) if t <= r.ts]
            if prior:
                expect[r.event_id] = max(prior)
    got = {r.event_id: r.view_ts for r in rows}
    assert got == expect
    for r in rows:
        assert r.gap_us >= 0
        assert r.view_ts + dt.timedelta(microseconds=r.gap_us) == r.purchase_ts


def test_incr_agg_merge_equals_direct(spark):
    """The two-phase partial-state merge must equal a direct one-pass
    aggregate computed inside Spark itself (engine-internal parity, on top
    of the DuckDB oracle), and per-type counts must account every event."""
    from duckdb_ner_spark.operators.scalepatterns import INCR_FX, q_incr_agg
    from duckdb_ner_spark.sources.catalog import load_tables

    rows = {r.event_type: r for r in q_incr_agg(spark, SF_SMOKE).collect()}
    ev = load_tables(spark, SF_SMOKE).events
    direct = {
        r.event_type: r
        for r in ev.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.expr(f"CAST(ROUND(value * {INCR_FX}) AS BIGINT)")).alias("fx"),
        )
        .collect()
    }
    assert set(rows) == set(direct)
    for et, r in rows.items():
        assert (r.n_events, r.total_fx) == (direct[et].n, direct[et].fx)
        assert abs(r.avg_value - r.total_fx / (r.n_events * INCR_FX)) < 1e-15
    assert sum(r.n_events for r in rows.values()) == ev.count()


def test_ab_test_matches_python_recompute(spark):
    """q_ab_test vs an independent pure-Python recompute: per-arm counts,
    rates, and the pooled two-proportion z (math.sqrt is the same
    IEEE-exact op both engines use)."""
    import math

    from duckdb_ner_spark.operators.scalepatterns import q_ab_test
    from duckdb_ner_spark.sources.catalog import load_tables

    ev = load_tables(spark, SF_SMOKE).events.select("user_id", "event_type").collect()
    per_user = {}
    for r in ev:
        d = per_user.setdefault(r.user_id, {"purchase": 0, "click": 0})
        if r.event_type in d:
            d[r.event_type] += 1
    n = {0: 0, 1: 0}
    c = {0: 0, 1: 0}
    for uid, d in per_user.items():
        arm = uid % 2
        n[arm] += 1
        c[arm] += 1 if d["purchase"] > d["click"] else 0
    row = q_ab_test(spark, SF_SMOKE).collect()[0]
    assert (row.n0, row.c0, row.n1, row.c1) == (n[0], c[0], n[1], c[1])
    p = (c[0] + c[1]) * 1.0 / (n[0] + n[1])
    z = (c[0] * 1.0 / n[0] - c[1] * 1.0 / n[1]) / math.sqrt(
        p * (1.0 - p) * (1.0 / n[0] + 1.0 / n[1])
    )
    assert row.z == z
    assert row.significant == (abs(z) > 1.96)
    assert 0 < row.rate0 < 1 and 0 < row.rate1 < 1  # non-degenerate predicate


def test_funnel_timing_deltas_are_real_gaps(spark):
    """q_funnel_timing: the reported medians/p90 must be actual observed
    per-user deltas (PERCENTILE_DISC contract) with the right ranks."""
    from duckdb_ner_spark.operators.scalepatterns import (
        funnel_user_stages,
        q_funnel_timing,
    )
    from duckdb_ner_spark.sources.catalog import load_tables

    stages = funnel_user_stages(load_tables(spark, SF_SMOKE).events).collect()
    us = lambda t: round(t.timestamp() * 1_000_000)  # noqa: E731
    d12, d23, d13 = [], [], []
    for r in stages:
        if r.t3 is not None:
            d12.append(us(r.t2) - us(r.t1))
            d23.append(us(r.t3) - us(r.t2))
            d13.append(us(r.t3) - us(r.t1))
    row = q_funnel_timing(spark, SF_SMOKE).collect()[0]
    assert row.n_completed == len(d13) > 0
    import math

    def disc(vals, q):
        v = sorted(vals)
        return v[max(0, math.ceil(q * len(v)) - 1)]

    assert row.median_view_to_click_us == disc(d12, 0.5)
    assert row.median_click_to_purchase_us == disc(d23, 0.5)
    assert row.p90_overall_us == disc(d13, 0.9)


def test_activity_gaps_match_python_recompute(spark):
    """q_activity_gaps vs a per-user pure-Python recompute of the distinct
    hour set, longest gap, and coverage."""
    from duckdb_ner_spark.operators.scalepatterns import q_activity_gaps
    from duckdb_ner_spark.sources.catalog import load_tables

    import datetime as dt

    epoch = dt.datetime(1970, 1, 1)
    hours = {}
    for r in load_tables(spark, SF_SMOKE).events.select("user_id", "ts").collect():
        h = int((r.ts - epoch).total_seconds() * 1_000_000) // 3_600_000_000
        hours.setdefault(r.user_id, set()).add(h)
    got = {r.user_id: r for r in q_activity_gaps(spark, SF_SMOKE).collect()}
    assert set(got) == set(hours)
    for uid, hs in hours.items():
        s = sorted(hs)
        max_gap = max((b - a - 1 for a, b in zip(s, s[1:])), default=0)
        r = got[uid]
        assert (r.first_hour, r.last_hour, r.active_hours) == (s[0], s[-1], len(s))
        assert r.span_hours == s[-1] - s[0] + 1
        assert r.max_gap_hours == max_gap
        assert abs(r.coverage - len(s) / (s[-1] - s[0] + 1)) < 1e-15


def _fx(value: float) -> int:
    # shipped testdata values are exact cents, so Decimal HALF_UP equals
    # the in-plan ROUND(value*1e6) here (the non-cent divergence case is
    # covered by test_stream_cusum_non_cent_parity)
    return int(
        (Decimal(repr(value)) * 1_000_000).quantize(
            Decimal("1"), rounding=ROUND_HALF_UP
        )
    )


def test_incr_minmax_matches_python_recompute(spark):
    """Maintained extrema, clean/dirty census, and the zero proof columns
    recomputed imperatively: clean buckets' pre-delete partials reused,
    dirty buckets recomputed from survivors only."""
    from duckdb_ner_spark.operators.scalepatterns import (
        MINMAX_BUCKETS,
        MINMAX_MOD,
        MINMAX_REM,
    )
    from duckdb_ner_spark.plans.registry import QUERIES

    rows = (
        spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        .select("event_type", "user_id", "value")
        .collect()
    )
    pre = defaultdict(list)  # (type, bucket) -> all fx
    post = defaultdict(list)  # (type, bucket) -> surviving fx
    surv = defaultdict(list)  # type -> surviving fx
    for r in rows:
        b = r.user_id % MINMAX_BUCKETS
        fx = _fx(r.value)
        pre[(r.event_type, b)].append(fx)
        if r.user_id % MINMAX_MOD != MINMAX_REM:
            post[(r.event_type, b)].append(fx)
            surv[r.event_type].append(fx)
    dirty = {
        k
        for k, _v in pre.items()
        if any(
            u.user_id % MINMAX_MOD == MINMAX_REM
            and (u.event_type, u.user_id % MINMAX_BUCKETS) == k
            for u in rows
        )
    }
    want = {}
    for et in {k[0] for k in pre}:
        merged = []
        n_clean = n_dirty = 0
        for (t, b), vals in pre.items():
            if t != et:
                continue
            if (t, b) in dirty:
                n_dirty += 1
                if post[(t, b)]:
                    merged.append((min(post[(t, b)]), max(post[(t, b)])))
            else:
                n_clean += 1
                merged.append((min(vals), max(vals)))
        if not surv[et]:
            continue
        mn = min(m for m, _ in merged)
        mx = max(m for _, m in merged)
        want[et] = (
            n_clean,
            n_dirty,
            mn,
            mx,
            min(surv[et]),
            max(surv[et]),
            mn - min(surv[et]),
            mx - max(surv[et]),
        )
    got = {
        r.event_type: (
            r.n_clean_buckets,
            r.n_dirty_buckets,
            r.min_fx_maint,
            r.max_fx_maint,
            r.min_fx_rebuild,
            r.max_fx_rebuild,
            r.min_diff,
            r.max_diff,
        )
        for r in QUERIES["q_incr_minmax"](spark, SF_SMOKE).collect()
    }
    assert got == want
    # maintenance must equal rebuild (the whole point), and the delete
    # path must have actually SAVED work: clean buckets dominate
    for v in got.values():
        assert v[6] == 0 and v[7] == 0
    assert sum(v[0] for v in got.values()) > sum(v[1] for v in got.values())


def test_skyline_equals_bruteforce_dominance(spark):
    """q_skyline's windowed plan must equal the O(n²) dominance
    definition: keep (price, size) iff no other part has price ≤ and
    size ≥ with one strict."""
    con = duckdb.connect()
    rows = con.execute(
        "SELECT CAST(ROUND(p_retailprice*100) AS BIGINT), p_size "
        f"FROM '{SF_SMOKE}/part.parquet'"
    ).fetchall()
    pts = defaultdict(int)
    for pc, s in rows:
        pts[(pc, s)] += 1
    expected = {
        (pc, s): n
        for (pc, s), n in pts.items()
        if not any(
            pc2 <= pc and s2 >= s and (pc2 < pc or s2 > s) for (pc2, s2) in pts
        )
    }
    got = {
        (r.price_cents, r.size): r.n_parts
        for r in QUERIES["q_skyline"](spark, SF_SMOKE).collect()
    }
    assert got == expected


def test_incr_join_proof_columns_are_zero_and_full_agg_is_real(spark):
    """The in-plan maintenance≡rebuild proof must hold (diff columns all
    zero) AND the full-join side must match an independent DuckDB
    recompute — guarding against both paths drifting together."""
    con = duckdb.connect()
    expected = dict(
        con.execute(
            "SELECT o.o_orderpriority, COUNT(*) "
            f"FROM '{SF_SMOKE}/orders.parquet' o "
            f"JOIN '{SF_SMOKE}/lineitem.parquet' l "
            "ON o.o_orderkey = l.l_orderkey GROUP BY 1"
        ).fetchall()
    )
    rows = QUERIES["q_incr_join"](spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r.n_diff == 0 and r.cents_diff == 0, r
        assert r.n_maint == r.n_full
        assert expected[r.o_orderpriority] == r.n_full


def test_twa_equals_python_integration(spark):
    """Per-user hold-duration integration recomputed in pure Python from
    the raw events, then bucketed identically."""
    con = duckdb.connect()
    rows = con.execute(
        "SELECT user_id, event_id, epoch_us(ts), CAST(ROUND(value*100) AS BIGINT) "
        f"FROM '{SF_SMOKE}/events.parquet' "
        "WHERE ts < TIMESTAMP '2024-01-02 00:00:00'"
    ).fetchall()
    by_user = defaultdict(list)
    for uid, eid, ts_us, cents in rows:
        by_user[uid].append((ts_us, eid, cents))
    hist = defaultdict(lambda: [0, 0])
    for uid, evs in by_user.items():
        evs.sort()
        wsum = tsum = 0
        for (t0, _, c), (t1, _, _) in zip(evs, evs[1:]):
            wsum += c * (t1 - t0)
            tsum += t1 - t0
        if tsum > 0:
            twa = wsum // tsum
            hist[twa // 500][0] += 1
            hist[twa // 500][1] += twa
    expected = {b: (n, s) for b, (n, s) in hist.items()}
    got = {
        r.bucket: (r.n_users, r.twa_cents_sum)
        for r in QUERIES["q_twa"](spark, SF_SMOKE).collect()
    }
    assert got == expected


def test_dsar_report_matches_python_recompute(spark):
    """q_dsar_report vs a driver-side recompute of the 0/1/2-hop subject
    row inventory and cents checksums."""
    from duckdb_ner_spark.operators.scalepatterns import DSAR_MOD, DSAR_REM

    cust = spark.read.parquet(f"{SF_SMOKE}/customer.parquet").collect()
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").collect()
    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").collect()
    subs = {r.c_custkey for r in cust if r.c_custkey % DSAR_MOD == DSAR_REM}

    def cents(x):
        from decimal import ROUND_HALF_UP, Decimal

        return int(
            (Decimal(repr(float(x))) * 100).quantize(
                Decimal("1"), rounding=ROUND_HALF_UP
            )
        )

    crows = [r for r in cust if r.c_custkey in subs]
    orows = [r for r in orders if r.o_custkey in subs]
    okeys = {r.o_orderkey for r in orows}
    lrows = [r for r in li if r.l_orderkey in okeys]
    expect = {
        "customer": (
            len(crows),
            sum(r.c_custkey for r in crows),
            sum(cents(r.c_acctbal) for r in crows),
        ),
        "orders": (
            len(orows),
            sum(r.o_orderkey for r in orows),
            sum(cents(r.o_totalprice) for r in orows),
        ),
        "lineitem": (
            len(lrows),
            sum(r.l_orderkey * 10 + r.l_linenumber for r in lrows),
            sum(cents(r.l_extendedprice) for r in lrows),
        ),
    }
    got = {
        r.table_name: (r.n_rows, r.key_checksum, r.cents_checksum)
        for r in QUERIES["q_dsar_report"](spark, SF_SMOKE).collect()
    }
    assert got == expect
    assert got["lineitem"][0] > 0, "2-hop rows must exist for the subjects"


def test_incr_agg_delete_retraction_equals_direct(spark):
    """The retraction-maintained state must equal a direct aggregate over
    survivors computed INDEPENDENTLY in Spark (the oracle pins the
    cross-engine half), and the retracted accounting must reconcile:
    maintained + retracted == full state per type."""
    from duckdb_ner_spark.operators.scalepatterns import (
        RETRACT_FX,
        RETRACT_MOD,
        RETRACT_REM,
    )

    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet").select(
        "user_id", "event_type", "value"
    )
    fx = F.expr(f"CAST(ROUND(value * {RETRACT_FX}) AS BIGINT)")
    direct = {
        r.event_type: (r.n, r.s)
        for r in ev.filter(F.col("user_id") % RETRACT_MOD != RETRACT_REM)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.sum(fx).alias("s"))
        .collect()
    }
    full = {
        r.event_type: (r.n, r.s)
        for r in ev.groupBy("event_type")
        .agg(F.count("*").alias("n"), F.sum(fx).alias("s"))
        .collect()
    }
    got = {
        r.event_type: (r.n_events, r.total_fx, r.n_retracted, r.retracted_fx)
        for r in QUERIES["q_incr_agg_delete"](spark, SF_SMOKE).collect()
    }
    assert {k: v[:2] for k, v in got.items()} == direct
    for k, (n, s, nr, sr) in got.items():
        assert (n + nr, s + sr) == full[k]
    assert sum(v[2] for v in got.values()) > 0, "no retraction ever fired"
