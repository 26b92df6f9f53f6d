"""Plan-quality assertions (C40) and writer round-trips (C39).

These pin the *physical* properties the 100 TB design depends on: pushdown,
pruning, broadcasts — a plan regression fails here even while results stay
correct."""

import pyspark.sql.functions as F
import pytest

from tests.conftest import SF_SMOKE


def test_filter_pushdown_reaches_scan(spark):
    from duckdb_ner_spark.plans.inspect import plan_report

    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    df = li.filter(F.col("l_quantity") < 10).select("l_orderkey", "l_quantity")
    rep = plan_report(df)
    assert any("l_quantity" in p for p in rep.pushed_filters), rep.pushed_filters
    # column pruning: scan must not read all 11 columns
    assert rep.read_schemas and "l_extendedprice" not in rep.read_schemas[0]


def test_small_dim_join_broadcasts(spark):
    from duckdb_ner_spark.plans.inspect import plan_report

    cust = spark.read.parquet(f"{SF_SMOKE}/customer.parquet")
    nat = spark.read.parquet(f"{SF_SMOKE}/nation.parquet")
    df = cust.join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
    rep = plan_report(df)
    assert rep.n_broadcasts >= 1


def test_flagship_plan_is_single_shuffle(spark):
    """TPC-H Q1 shape: ONE exchange, post-partial-aggregation (map-side
    combine reduces each scan partition to ≤4 group rows before the shuffle;
    money sums accumulate under decimal(38,0) — the r13 _fxsum_big form that
    retired _agg2's second exchange). Wholestage codegen on."""
    import __spark_entry__ as e
    from duckdb_ner_spark.plans.inspect import plan_report
    from duckdb_ner_spark.plans import cachereg

    # plan-SHAPE assertions need a freshly constructed plan: on an already-
    # executed cached DataFrame the AQE-final formatted plan lists each
    # exchange twice (inside its ShuffleQueryStage and in the final tree).
    # scanRepartition=-1: assert the CLUSTER-SCALE shape (untouched scan — at
    # 100 TB the scan has thousands of splits and the catalog's parallelism
    # floor is a no-op by construction; on the one-split testdata files the
    # default auto floor adds one round-robin exchange below the partial agg).
    spark.conf.set("spark.duckdb_ner.scanRepartition", "-1")
    try:
        cachereg.clear()
        df = e.queries()["q_agg_group"](spark, SF_SMOKE)
        rep = plan_report(df)
        assert rep.n_exchanges == 1, rep.summary()
    finally:
        spark.conf.set("spark.duckdb_ner.scanRepartition", "0")
    # the exchange sits ABOVE a partial HashAggregate: no raw-row shuffle —
    # and the retired spark_partition_id level-1 key must NOT reappear
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "spark_partition_id" not in plan.lower()
    assert not rep.has_python_udf
    # codegen spans only materialize in the AQE-final (executed) plan
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "*(" in executed  # '*(N)' prefix marks WholeStageCodegen spans


def test_topk_uses_take_ordered(spark):
    import __spark_entry__ as e
    from duckdb_ner_spark.plans.inspect import formatted_plan
    from duckdb_ner_spark.plans import cachereg

    cachereg.clear()  # fresh plan (see test_flagship_plan_is_single_shuffle)
    df = e.queries()["q_topk"](spark, SF_SMOKE)
    assert "TakeOrderedAndProject" in formatted_plan(df)


def test_bounded_windows_in_fixed_plans(spark):
    """The three r4 perf-weak queries must never regress to a global window
    over an unbounded input (VERDICT r4 What's-wrong #1-3):

    - q_skew_audit ranks inside a TakeOrdered top-K, so the only global
      window runs over SKEW_TOP_K rows;
    - q_vocab_coverage has NO per-word row_number at all (equal-frequency
      classes + arithmetic crossing); its prefix sums are partitioned by
      the count bit-length band, and only the <=64-row band table crosses
      a global window;
    - q_compaction_plan's running sum is chunk-partitioned with a global
      window only over per-chunk totals."""
    import __spark_entry__ as e
    from duckdb_ner_spark.plans.inspect import formatted_plan
    from duckdb_ner_spark.plans import cachereg

    cachereg.clear()
    q = e.queries()

    fp = formatted_plan(q["q_skew_audit"](spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in fp, "skew rank must sit on a top-K heap"

    fp = formatted_plan(q["q_vocab_coverage"](spark, SF_SMOKE))
    assert "row_number() windowspecdefinition" not in fp, (
        "vocab coverage must not rank per word"
    )
    assert "windowspecdefinition(band#" in fp, (
        "per-class prefix sums must be band-partitioned"
    )

    fp = formatted_plan(q["q_compaction_plan"](spark, SF_SMOKE))
    assert "windowspecdefinition(chunk#" in fp, (
        "file prefix sum must be chunk-partitioned"
    )


def test_write_read_roundtrips(spark, tmp_path):
    from duckdb_ner_spark.sources.writers import (
        read_csv,
        read_json,
        write_csv,
        write_json,
        write_parquet,
    )

    src = spark.read.parquet(f"{SF_SMOKE}/region.parquet")
    p = str(tmp_path / "p")
    write_parquet(src, p)
    assert spark.read.parquet(p).count() == src.count()

    c = str(tmp_path / "c")
    write_csv(src, c)
    back = read_csv(spark, c, schema=src.schema)
    assert {r.r_name for r in back.collect()} == {r.r_name for r in src.collect()}

    j = str(tmp_path / "j")
    write_json(src, j)
    assert read_json(spark, j, schema=src.schema).count() == src.count()


def test_partitioned_write_prunes(spark, tmp_path):
    from duckdb_ner_spark.plans.inspect import formatted_plan
    from duckdb_ner_spark.sources.writers import write_parquet

    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").withColumn(
        "yr", F.year("o_orderdate")
    )
    p = str(tmp_path / "orders_by_year")
    write_parquet(orders, p, partition_cols=["yr"])
    pruned = spark.read.parquet(p).filter(F.col("yr") == 1997)
    plan = formatted_plan(pruned)
    assert "PartitionFilters" in plan
    assert pruned.count() == orders.filter(F.col("yr") == 1997).count()


def test_runtime_bloom_filter_prunes_fact_scan(spark):
    """Catalyst injects a bloom filter built from a selective dim onto the
    fact side of a shuffle join (`might_contain(...)` in the fact's Filter):
    at 100 TB this turns 'shuffle all of lineitem' into 'shuffle the ~matching
    rows'. Local thresholds are production-sized, so the test lowers the
    application-side floor; the rewrite itself is what's pinned."""
    from pyspark.sql import functions as F

    from tests.conftest import SF_SMOKE

    old_app = spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    )
    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        # force a shuffle join: with a broadcast join Spark would prune via
        # the broadcast hash relation instead, and no bloom filter is needed
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
        pt = spark.read.parquet(f"{SF_SMOKE}/part.parquet").filter(
            F.col("p_size") > 45
        )
        j = li.join(pt, F.col("l_partkey") == F.col("p_partkey")).groupBy(
            "p_size"
        ).count()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan
        assert "bloom_filter_agg" in plan
        j.count()  # and it executes
    finally:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            old_app,
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)


def test_knn_join_broadcasts_query_side(spark):
    """q_knn_join's retrieval asymmetry: the query set must ride in as a
    broadcast — the corpus is never shuffled for the scoring join."""
    import __spark_entry__ as e
    from duckdb_ner_spark.plans.inspect import plan_report

    rep = plan_report(e.queries()["q_knn_join"](spark, SF_SMOKE))
    assert rep.n_broadcasts >= 1, rep.summary()
    assert not rep.has_python_udf


def test_subquery_reattach_join_broadcasts(spark):
    """r14: the decorrelated per-nation aggregate (25 rows at any SF) must
    re-attach via BroadcastHashJoin — the BROADCAST hint inside the scalar
    subquery has to survive decorrelation. No SortMergeJoin (and so no Sort
    of the big probe side) may remain anywhere in q_subquery's plan."""
    import __spark_entry__ as e
    from duckdb_ner_spark.plans.inspect import formatted_plan
    from duckdb_ner_spark.plans import cachereg

    cachereg.clear()  # fresh plan (see test_flagship_plan_is_single_shuffle)
    plan = formatted_plan(e.queries()["q_subquery"](spark, SF_SMOKE))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_record_linkage_plan_has_no_joins(spark):
    """r14: the per-block scorecard folds out of the capped block arrays
    with higher-order functions — the block self-join (which re-evaluated
    the whole cap chain per side) and both re-attach joins are gone. The
    plan must contain NO join node of any kind and exactly the cap chain's
    two aggregation exchanges (cluster-scale shape, scanRepartition=-1)."""
    import __spark_entry__ as e
    from duckdb_ner_spark.plans.inspect import formatted_plan, plan_report
    from duckdb_ner_spark.plans import cachereg

    spark.conf.set("spark.duckdb_ner.scanRepartition", "-1")
    try:
        cachereg.clear()
        df = e.queries()["q_record_linkage"](spark, SF_SMOKE)
        plan = formatted_plan(df)
        assert "Join" not in plan, plan[:2000]
        assert plan_report(df).n_exchanges == 2
    finally:
        spark.conf.set("spark.duckdb_ner.scanRepartition", "0")
        cachereg.clear()


def test_label_prop_one_exchange_per_round(spark, monkeypatch):
    """r14: the pivoted vote argmax aggregates ONCE per propagation round
    (a count column per label + greatest/CASE argmax) — the retired
    (node,lbl)-keyed count + (node)-keyed max_by pair cost two. max_by must
    not reappear anywhere in the optimized propagation plan, and each extra
    round adds exactly one exchange. The count depends on cache state, so
    the test starts from none and materializes the shared inputs: only then
    does the planner see their partitioning (before, each round also
    re-shuffles both sides of its edge join), and no earlier query's
    persisted labels can stand in for a propagation subplan."""
    from duckdb_ner_spark.operators import components
    from duckdb_ner_spark.operators.components import (
        day1_cooccurrence_graph,
        day1_directed_edges,
    )
    from duckdb_ner_spark.plans.cachereg import release_caches
    from duckdb_ner_spark.plans.inspect import plan_report

    release_caches(spark)
    edges, deg = day1_cooccurrence_graph(spark, SF_SMOKE)
    dirn = day1_directed_edges(spark, SF_SMOKE)
    for df in (edges, deg, dirn):
        df.count()
    n_exchanges = []
    for iters in (1, 2, 3):
        monkeypatch.setattr(components, "LP_ITERS", iters)
        lab = components.label_prop_labels(edges, deg, dirn)
        n_exchanges.append(plan_report(lab).n_exchanges)
        plan = lab._jdf.queryExecution().optimizedPlan().toString()
        assert "max_by" not in plan.lower()
    assert [n - n_exchanges[0] for n in n_exchanges] == [0, 1, 2], n_exchanges


def _memo_builders():
    from duckdb_ner_spark.operators.components import day1_cooccurrence_graph
    from duckdb_ner_spark.plans.registry import QUERIES
    from duckdb_ner_spark.sources.catalog import load_tables

    return {
        "q_agg_group": QUERIES["q_agg_group"],
        "lineitem": lambda s, sf: load_tables(s, sf).table("lineitem"),
        "day1_graph": day1_cooccurrence_graph,
    }


@pytest.mark.parametrize(
    "case",
    ["repeat", "new_session", "scan_conf", "extend_chain", "replaced_file", "replaced_staged"],
)
def test_session_memo_contract(spark, tmp_path, case):
    """The session memo (plans/cachereg.py) serves the identical object only
    while session, sf_dir, scan conf and data-file stamp all match. The
    staged suffix-rank chain extends in place: a deeper request stages only
    the missing rounds. A data file replaced in place must never be served
    through a plan, or cached blocks, built over its old contents, nor
    through a staged copy of it (stream slices, bucketed tables)."""
    import shutil

    import pyarrow.parquet as pq

    sf = str(tmp_path / "sf")
    shutil.copytree(SF_SMOKE, sf, copy_function=shutil.copyfile)
    builders = _memo_builders()

    if case == "repeat":
        for name, build in builders.items():
            assert build(spark, sf) is build(spark, sf), name
    elif case == "new_session":
        other = spark.newSession()
        for name, build in builders.items():
            assert build(other, sf) is not build(spark, sf), name
    elif case == "scan_conf":
        first = {name: build(spark, sf) for name, build in builders.items()}
        spark.conf.set("spark.duckdb_ner.scanRepartition", "3")
        try:
            for name, build in builders.items():
                assert build(spark, sf) is not first[name], name
        finally:
            spark.conf.set("spark.duckdb_ner.scanRepartition", "0")
    elif case == "extend_chain":
        from duckdb_ner_spark.operators.substring import staged_suffix_rounds

        short = staged_suffix_rounds(spark, sf, 1)
        deeper = staged_suffix_rounds(spark, sf, 2)
        assert len(short) == 2 and len(deeper) == 3
        assert all(a is b for a, b in zip(short, deeper))
    elif case == "replaced_staged":
        import duckdb

        from duckdb_ner_spark.plans.registry import ORACLES, QUERIES
        from duckdb_ner_spark.sources.catalog import TABLES
        from tools.selfcheck import normalize

        names = ["q_stream_quality_gate", "q_bucket_join"]
        before = {n: QUERIES[n](spark, sf).toPandas() for n in names}
        for table, n_rows in (("documents", 100), ("lineitem", 3000)):
            path = f"{sf}/{table}.parquet"
            pq.write_table(pq.read_table(path).slice(0, n_rows), path)
        con = duckdb.connect()
        for table in TABLES:
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{sf}/{table}.parquet'")
        for n in names:
            got = normalize(QUERIES[n](spark, sf).toPandas())
            assert got == normalize(con.execute(ORACLES[n]).df()), n
            assert got != normalize(before[n]), n
    else:
        q1, lineitem = builders["q_agg_group"], builders["lineitem"]

        def by_group(rows):
            return {(r.l_returnflag, r.l_linestatus): (r.sum_qty, r.count_order)
                    for r in rows}

        old = by_group(q1(spark, sf).collect())
        assert lineitem(spark, sf).cache().count() == 6000
        path = f"{sf}/lineitem.parquet"
        half = pq.read_table(path).slice(0, 3000)
        pq.write_table(half, path)

        try:
            assert lineitem(spark, sf).count() == 3000
        finally:
            lineitem(spark, sf).unpersist()
        pdf = half.to_pandas()
        pdf = pdf[pdf.l_shipdate <= "1998-09-02"]
        want = {
            k: (float(g.l_quantity.sum()), len(g))
            for k, g in pdf.groupby(["l_returnflag", "l_linestatus"])
        }
        got = by_group(q1(spark, sf).collect())
        assert got == want != old


def test_kvtext_manifest_ignores_uncommitted_files(spark):
    """The two-phase-commit contract under test in q_sink_custom: a data
    file present in the sink directory but absent from the _committed
    manifest (a failed/speculative task attempt) must be invisible to the
    reader."""
    import json
    import os
    import tempfile
    import uuid

    from duckdb_ner_spark.sources.pydatasource import register_kvtext_source

    register_kvtext_source(spark)
    path = os.path.join(tempfile.gettempdir(), f"kvtext_test_{uuid.uuid4().hex}")
    df = spark.createDataFrame(
        [(1, "en", 10), (2, "fr", 20)], "doc_id BIGINT, lang STRING, n_chars BIGINT"
    )
    df.write.format("kvtext").option("path", path).mode("append").save()
    with open(os.path.join(path, "part-99999-stray.kv"), "w") as f:
        f.write("3\tde\t30\n")  # simulated aborted-attempt leftover
    back = spark.read.format("kvtext").option("path", path).load().collect()
    assert sorted((r.doc_id, r.lang, r.n_chars) for r in back) == [
        (1, "en", 10),
        (2, "fr", 20),
    ]
    manifest = json.load(open(os.path.join(path, "_committed")))
    assert manifest["rows"] == 2
