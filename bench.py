"""Benchmark runner (driver contract: one JSON line to stdout).

Runs the headline declared queries at $SPARK_GRAFT_SF_DIR (default sf0.1) on
local[$SPARK_GRAFT_CPUS], forcing full execution via the built-in noop sink
(guide §1.4; count() — the r01..r13 action — lets Catalyst prune final
expressions).
Prints {"metric", "value", "unit", "queries", "sf"}.
"""

from __future__ import annotations

import json
import os
import sys
import time

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "q_agg_group",
    "q_filter",
    "q_join_inner",
    "q_join_multi",
    "q_join_outer",
    "q_topk",
    "q_window_rank",
    "q_window_frame",
    "q_subquery",
    "q_array",
    "q_json",
    "q_dedup_exact",
    "q_dedup_near",
    "q_sim_topk",
    "q_text_stats",
    "q_fingerprint",
    "q_ner",
    "q_ner_bert",
]

# Timed steady runs per query (after one untimed warmup); bench reports the
# best of them.
STEADY_RUNS = 3


# Engine-default confs the cold pass pins (a fresh user session's settings —
# see session.py; the explicit reset also undoes the bench-tuned builder confs
# the cold session would otherwise inherit from this process's SparkConf).
COLD_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.autoBroadcastJoinThreshold": str(10 * 1024 * 1024),
    "spark.duckdb_ner.scanRepartition": "0",
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64m",
}


def cold_warmup(cold_spark) -> None:
    """Query-neutral engine warmup on synthetic data: loads and HotSpot-JIT-
    compiles the engine infrastructure — scheduler, Catalyst rule engine,
    Janino codegen, vectorized parquet reader, broadcast exchange, Arrow
    pandas-UDF runner and the Python worker pool — so the first HEADLINE
    query's cold number measures that query, not JVM/interpreter bootstrap
    (the protocol's documented exclusion: DuckDB's compiled binary pays no
    JIT ramp either, so leaving it in would measure runtime maturity, not
    the engine). Several varied-shape repetitions are needed because C2
    only compiles the optimizer/codegen hot paths after repeated use.
    Touches none of the benchmark tables or plans."""
    import tempfile as _tf

    from pyspark.sql import functions as _F
    from pyspark.sql.functions import pandas_udf as _pudf
    from pyspark.sql.window import Window as _W

    from duckdb_ner_spark.session import default_parallelism as _dp

    _wdir = os.path.join(_tf.gettempdir(), "bench_warmup_parquet")
    (
        cold_spark.range(0, 10000, 1, 4)
        .withColumn("k", _F.col("id") % 100)
        .withColumn("s", _F.col("id").cast("string"))
        .write.mode("overwrite")
        .parquet(_wdir)
    )

    @_pudf("long")
    def _wid(s: pd.Series) -> pd.Series:
        return s

    for _i in range(6):
        _w = cold_spark.range(0, 10000, 1, 4).withColumn("k", _F.col("id") % (97 + _i))
        _w.groupBy("k").agg(_F.sum("id").alias("a"), _F.avg("id").alias("b")).count()
        _w.join(_w.select((_F.col("id") + _i).alias("id2")), _F.col("id") == _F.col("id2")).count()
        _w.withColumn(
            "rn", _F.row_number().over(_W.partitionBy("k").orderBy(_F.col("id") + _i))
        ).filter(_F.col("rn") <= 3).count()
        _p = cold_spark.read.parquet(_wdir).filter(_F.col("k") > _i)
        _p.join(
            _F.broadcast(cold_spark.range(50).withColumnRenamed("id", "k2")),
            _F.col("k") == _F.col("k2"),
        ).count()
        _p.select(_wid(_F.col("id") + _i)).count()
        _p.orderBy("s").limit(10).count()
    # fill the Python worker pool to full width once (forks are cheap but the
    # first full-width pandas-UDF stage shouldn't pay them all at once)
    cold_spark.range(0, 3200, 1, _dp()).select(_wid(_F.col("id"))).count()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or "0.1")

    import __spark_entry__ as entrymod
    from duckdb_ner_spark.session import blas_cores, default_parallelism, get_spark

    spark = get_spark("bench", extra_conf=steady_conf(default_parallelism()))

    # ---- COLD pass (reported as cold_value/cold_queries): one run per
    # query, its first-ever execution in the cold session. r14: the cold
    # timed action is the noop sink too — a count()-timed cold cell
    # measured a PRUNED first run (q_ner_bert's cold cell read ~0.24 s with
    # the whole inference UDF pruned out). The r01..r13 cold series was
    # count()-actioned, so compare cold trends only within r14+.
    cold_spark = cold_session(spark)
    cold_timings: dict[str, float] = {}
    for name in HEADLINE:
        ((b, e),) = time_query(cold_spark, sf_dir, name, 1, False)
        cold_timings[name] = round(b + e, 3)
    cold_total = round(sum(cold_timings.values()), 3)

    # ---- steady pass: one untimed warmup (whole-stage-codegen JIT + AQE's
    # first-run replanning — one-off costs that amortize away in any real
    # deployment), then best of STEADY_RUNS timed runs. Symmetric with the
    # DuckDB baseline methodology (tools/bench_duckdb.py: warmup +
    # best-of-3). Since r14 "queries"/"value" are noop-sink timings;
    # BENCH_r01..r13's "queries" were count()-timed, so compare r14+
    # "queries" to r13 "noop_queries". The DuckDB pair fetches full result
    # sets, so ratio_steady_o16 is the apples-to-apples engine ratio. See
    # OPTIMIZATION_r14.md.
    warm_steady(spark, sf_dir)
    timings: dict[str, float] = {}
    for name in HEADLINE:
        runs = time_query(spark, sf_dir, name, STEADY_RUNS, True)
        timings[name] = round(min(b + e for b, e in runs), 3)

    total = round(sum(timings.values()), 3)
    # the OpenBLAS kernels behind the NER cells: the driver keeps the one it
    # loaded, the Python workers load the one get_spark chose
    blas_core = blas_cores(spark)

    # same-run DuckDB pair (VERDICT r5 #5): time the headline oracles in the
    # same process right after the Spark passes, so the artifact carries
    # per-query PAIRS — ratios are the host-load-stable signal, and they
    # become trackable round-over-round without a separate artifact.
    from tools.bench_duckdb import duckdb_pair

    ddb = duckdb_pair(sf_dir, HEADLINE, entrymod.oracle_sql())
    o16_spark = round(
        sum(t for n, t in timings.items() if ddb["queries"].get(n) is not None), 3
    )
    o16_cold_spark = round(
        sum(t for n, t in cold_timings.items() if ddb["cold_queries"].get(n) is not None),
        3,
    )
    ratio = round(o16_spark / ddb["value"], 3) if ddb["value"] else None
    ratio_cold = (
        round(o16_cold_spark / ddb["cold_value"], 3) if ddb["cold_value"] else None
    )
    print(
        json.dumps(
            {
                "metric": "headline_query_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "timed_action": "noop_sink_since_r14_count_before",
                "cold_value": cold_total,
                "cold_queries": cold_timings,
                "duckdb_value": ddb["value"],
                "duckdb_queries": ddb["queries"],
                "duckdb_cold_value": ddb["cold_value"],
                "duckdb_cold_queries": ddb["cold_queries"],
                "spark_o16": o16_spark,
                "spark_cold_o16": o16_cold_spark,
                "ratio_steady_o16": ratio,
                "ratio_cold_o16": ratio_cold,
                "sf": sf,
                "blas_core": blas_core,
            }
        )
    )



def steady_conf(cpus: int) -> dict[str, str]:
    """Bench-tuned confs of the steady pass (the cold pass resets them to
    COLD_CONF). Also the planning conf of tools/dump_plans.py. The figures
    cited below came from the count()-timed profiler of rounds 9–13;
    ``tools/bench_profile.py --conf k=v`` re-measures one under this
    protocol."""
    return {
        # parallelismFirst=false is the recommended large-scale setting
        # (coalesce to advisory size instead of max parallelism) — and it
        # also trims local task-scheduling overhead on small SFs
        "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16m",
        # sf0.1 regime: 600 k-row shuffles across 32 initial partitions
        # pay ~20 k-row tasks whose launch overhead dominates; 8 initial
        # partitions measured 5.4 s vs 12.1 s total (tools/bench_profile).
        # Cluster scale is unaffected: there shuffle.partitions is sized
        # to data (or AQE-coalesced), not inherited from this bench knob.
        "spark.sql.shuffle.partitions": "8",
        # testdata parquet is one row group per table → a raw scan is one
        # split; spread the cached tables across cores (see catalog.py).
        # 8 splits beat 32 at this SF for the same task-overhead reason.
        "spark.duckdb_ner.scanRepartition": str(min(cpus, 8)),
        # single-host bench: every task is process-local; skipping the
        # locality wait saves scheduler latency (measured ~4%). On a real
        # cluster the default matters for storage-local reads — bench-only.
        "spark.locality.wait": "0ms",
        # AQE's per-stage materialize-and-replan cycle costs one extra job
        # submission per shuffle stage; with shuffle.partitions already
        # sized to the SF (8) there is nothing left for it to re-plan, so
        # at sf0.1 it is pure overhead (~25% of exec time across the
        # headline, tools/bench_profile with/without). Bench-only: the
        # engine default (session.py) keeps AQE + skew-join ON — that is
        # the 100 TB configuration, where re-planning amortizes over
        # minutes-long stages and skew handling actually triggers.
        "spark.sql.adaptive.enabled": "false",
        # at sf0.1 every dimension side (orders 2.7 MB, part 180 KB)
        # fits comfortably in a broadcast; raising the threshold converts
        # the q_subquery/q_topk/q_join_multi shuffle joins to broadcast
        # joins (measured −10% across the worst-gap queries,
        # tools/bench_profile). Bench-only knob: on a cluster the engine
        # default (10 MB) + AQE's runtime size-based join selection make
        # this decision from real statistics, and a 100 TB orders table
        # would never qualify.
        "spark.sql.autoBroadcastJoinThreshold": "64m",
    }


def cold_session(spark):
    """The COLD pass's session: a fresh session with ENGINE-DEFAULT confs —
    AQE + skew handling ON, AQE coalesce-to-advisory-size, default 10 MB
    broadcast threshold, the engine-default AUTO scan-parallelism floor
    (scanRepartition=0: single-split scans of the compute-per-byte-heavy
    corpora documents/embeddings spread to ≤8 partitions; relational
    tables scan untouched — catalog.py _FLOOR_TABLES), no plan cache, no
    cached/persisted intermediates, and the engine warmed by cold_warmup.
    Each query then times its FIRST run here: the first-run latency a user
    pays. JVM and OS page cache are warm (JVM startup is not the number of
    interest). Call it BEFORE warm_steady so the cold pass cannot borrow
    the steady pass's warm state."""
    from duckdb_ner_spark.plans import cachereg

    cold = spark.newSession()
    for k, v in COLD_CONF.items():
        cold.conf.set(k, v)
    cachereg.clear()
    cold_warmup(cold)
    return cold


def warm_steady(spark, sf_dir: str) -> None:
    """Steady-pass warm state, outside any timed region: drop whatever the
    cold pass cached/persisted, then cache every table (the analogue of
    DuckDB's buffer pool being warm)."""
    from duckdb_ner_spark.plans import cachereg
    from duckdb_ner_spark.sources.catalog import TABLES, load_tables

    spark.catalog.clearCache()
    cachereg.clear()
    cat = load_tables(spark, sf_dir)
    for t in TABLES:
        cat.table(t).cache().count()


def time_query(
    spark, sf_dir: str, name: str, runs: int, warmup: bool
) -> list[tuple[float, float]]:
    """Time ``runs`` executions of declared query ``name``, after one untimed
    run if ``warmup``. Returns each timed run's (build_s, exec_s): build is
    the Python-side DataFrame construction (Py4J round trips + analysis),
    exec the action (optimize + schedule + run).

    The action is the noop sink (df.write.format("noop")), which computes
    every column of every row; count() would let Catalyst prune final
    aggregate/projection expressions (q_ner_bert's count plan drops the
    whole inference UDF)."""
    import __spark_entry__ as entrymod

    build = entrymod.queries()[name]
    if warmup:
        build(spark, sf_dir).write.format("noop").mode("overwrite").save()
    out = []
    for _ in range(runs):
        t0 = time.time()
        df = build(spark, sf_dir)
        t1 = time.time()
        df.write.format("noop").mode("overwrite").save()
        out.append((t1 - t0, time.time() - t1))
    return out


if __name__ == "__main__":
    main()
