"""Per-query, per-layer profile of bench.py's own timing protocol.

Runs bench.py's cold pass (``bench.cold_session``: fresh engine-default
session, warmed engine, one first run per query) and then its steady pass
(``bench.warm_steady``: cached tables, one untimed warmup, then
``bench.STEADY_RUNS`` timed runs per query). Every run goes through
``bench.time_query``, so the action is bench's noop sink. The session writes
the Spark event log to a temp dir; each timed ``time_query`` call is tagged
with ``PHASE_PROPERTY = "<pass>:<query>"`` (warmups stay untagged), and after
``spark.stop()`` the log is split per tag by ``perfbench/tracing.py``'s
``event_log_totals``.

Prints one JSON line::

  {"sf", "cpus", "steady_runs", "conf", "loadavg_start", "loadavg_end",
   "blas_core": {"driver", "workers"},   # OpenBLAS core names, None if not OpenBLAS
   "queries": {name: {"cold" | "steady": {"build_s": [per run],
                                          "exec_s": [per run],
                                          "layers": {LAYERS...}}}}}

Cold layers cover the single first run; steady layers are the per-run mean.
Example: ``tools/bench_profile.py q_substring_dedup q_substring_packed
q_suffix_spans`` compares the three span-inventory algorithms' shuffle
bytes; the cold pass carries the staging shuffle the steady pass reuses.

Usage: python tools/bench_profile.py [--conf k=v ...] [query ...]
``--conf`` applies on top of both passes; queries default to bench.HEADLINE.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Event-log totals reported per query and pass (perfbench/tracing.py names).
LAYERS = (
    "jobs",
    "stages",
    "tasks",
    "run_s",
    "cpu_s",
    "gc_s",
    "deserialize_s",
    "shuffle_write_bytes",
    "shuffle_fetch_wait_s",
    "python_init_ms",
    "python_run_ms",
    "bytes_to_python",
    "bytes_from_python",
)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or "0.1")

    extra: dict[str, str] = {}
    only: list[str] = []
    args = sys.argv[1:]
    i = 0
    while i < len(args):
        if args[i] == "--conf":
            k, _, v = args[i + 1].partition("=")
            extra[k] = v
            i += 2
        else:
            only.append(args[i])
            i += 1

    import bench
    from duckdb_ner_spark.session import blas_cores, default_parallelism, get_spark
    from perfbench.tracing import PHASE_PROPERTY, event_log_totals

    loadavg_start = os.getloadavg()
    cpus = default_parallelism()
    names = only or bench.HEADLINE
    times: dict[tuple[str, str], list[tuple[float, float]]] = {}
    with tempfile.TemporaryDirectory(prefix="bench_profile_eventlog_") as log_dir:
        spark = get_spark(
            "bench-profile",
            extra_conf={
                **bench.steady_conf(cpus),
                **extra,
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
            },
        )
        sc = spark.sparkContext

        cold = bench.cold_session(spark)
        # the cold session inherits every builder conf except COLD_CONF's resets
        for k in extra.keys() & bench.COLD_CONF.keys():
            cold.conf.set(k, extra[k])
        for name in names:
            sc.setLocalProperty(PHASE_PROPERTY, f"cold:{name}")
            times["cold", name] = bench.time_query(cold, sf_dir, name, 1, False)
        sc.setLocalProperty(PHASE_PROPERTY, None)

        bench.warm_steady(spark, sf_dir)
        for name in names:
            bench.time_query(spark, sf_dir, name, 0, True)  # untagged warmup
            sc.setLocalProperty(PHASE_PROPERTY, f"steady:{name}")
            times["steady", name] = bench.time_query(
                spark, sf_dir, name, bench.STEADY_RUNS, False
            )
            sc.setLocalProperty(PHASE_PROPERTY, None)
        blas_core = blas_cores(spark)
        spark.stop()  # flushes and closes the event log
        totals = event_log_totals(log_dir)

    queries: dict[str, dict[str, dict]] = {}
    for (pass_, name), runs in times.items():
        tot = totals.get(f"{pass_}:{name}", {})
        queries.setdefault(name, {})[pass_] = {
            "build_s": [round(b, 4) for b, _ in runs],
            "exec_s": [round(e, 4) for _, e in runs],
            "layers": {k: round(tot.get(k, 0.0) / len(runs), 6) for k in LAYERS},
        }
    print(
        json.dumps(
            {
                "sf": sf,
                "cpus": cpus,
                "steady_runs": bench.STEADY_RUNS,
                "conf": extra,
                "loadavg_start": loadavg_start,
                "loadavg_end": os.getloadavg(),
                "blas_core": blas_core,
                "queries": queries,
            }
        )
    )


if __name__ == "__main__":
    main()
