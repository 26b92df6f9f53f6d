"""Benchmark entry point: one workload in one fresh process, one JSON result.

    python3 perfbench/run.py --workload sql_mixed --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. It generates its inputs under
``.perfbench_work/`` there (tables once per scale factor and generator
version, models on every run), runs the workload (see ``workloads.py``),
checks the results, and prints a run-stamp line followed by the result
line::

    {"correct": true, "attempted": 71, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` turns on Spark's
event log and the memory sampler and reports the per-layer metrics instead,
together with the end-to-end values measured under tracing (``trace.*``).
``failed / attempted`` is the run's fail ratio.
"""

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import hashlib  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
DATA_SEED = 42  # tables are fixed; --seed drives orders, weights and samples

END_TO_END = ("setup_s", "first_round_s", "round_s", "op_geomean_s")

PER_LAYER = {
    "session.get_spark_s": "s",
    "catalog.resolve_s": "s",
    "catalog.cache_fill_s": "s",
    "registry.build_miss_s": "s",
    "registry.build_hit_s": "s",
    "registry.plan_reuse_ratio": "ratio",
    "spark.action_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.run_s": "s",
    "spark.cpu_s": "s",
    "spark.gc_s": "s",
    "spark.deserialize_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_fetch_wait_s": "s",
    "ner_udf.python_init_s": "s",
    "ner_udf.first_python_init_s": "s",
    "ner_udf.python_run_s": "s",
    "ner_udf.bytes_to_python": "bytes",
    "ner_udf.bytes_from_python": "bytes",
    "ner_udf.tiny_docs_per_s": "docs/s",
    "ner_udf.base_docs_per_s": "docs/s",
    "ner_udf.stub_docs_per_s": "docs/s",
    "model.load_s": "s",
    "tokenizer.ms_per_doc": "ms/doc",
    "decode.ms_per_doc": "ms/doc",
    "bert_numpy.tiny_ms_per_doc": "ms/doc",
    "bert_numpy.tiny_rows_per_forward": "rows",
    "bert_numpy.base_ms_per_doc": "ms/doc",
    "bert_numpy.base_rows_per_forward": "rows",
    "mem.tree_peak_rss_mb": "MB",
    **{f"trace.{m}": "s" for m in END_TO_END},
}


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _loadavg() -> float:
    return os.getloadavg()[0]


def _cpu_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over all CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _git_commit() -> str | None:
    """HEAD of the checkout when it is a git work tree (read, not run)."""
    git = os.path.join(ROOT, ".git")
    try:
        with open(os.path.join(git, "HEAD")) as f:
            head = f.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        if os.path.isfile(os.path.join(git, ref)):
            with open(os.path.join(git, ref)) as f:
                return f.read().strip()
        with open(os.path.join(git, "packed-refs")) as f:
            for line in f:
                if line.rstrip().endswith(" " + ref):
                    return line.split()[0]
    except OSError:
        pass
    return None


def _versions() -> dict[str, str]:
    import duckdb
    import numpy
    import pyspark

    return {"python": platform.python_version(), "pyspark": pyspark.__version__,
            "numpy": numpy.__version__, "duckdb": duckdb.__version__}


def _stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait for every process the run
    started (the JVM exits when its stdin closes; Python workers follow)."""
    from pyspark import SparkContext

    from tracing import process_tree

    started = process_tree(os.getpid())[1:]
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        started = [p for p in started if os.path.exists(f"/proc/{p}")]
        if not started:
            return
        time.sleep(0.1)
    for p in started:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _prepare_env(tmp: str) -> None:
    """Keep every file the engine writes inside the checkout, let Python
    workers import the package, and size the engine to this host."""
    os.makedirs(os.path.join(tmp, "spark-local"), exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(_nproc())


def _metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def _end_to_end(run) -> dict[str, float]:
    # Each operation (a query, a model's pass) is summarised by its own
    # median and the medians are combined by geometric mean, so the value
    # does not depend on which operation ranks where.
    return {
        "setup_s": run.setup_s,
        "first_round_s": run.first_round_s,
        "round_s": statistics.median(run.rounds),
        "op_geomean_s": statistics.geometric_mean(
            statistics.median(times) for times in run.steady_ops.values()),
    }


def _per_layer(run, events: dict, peak_rss_mb: float) -> dict[str, float]:
    n = len(run.rounds)
    steady = events.get("steady", {})
    spans = run.spans
    values = {
        "session.get_spark_s": spans.total("session.get_spark"),
        "catalog.resolve_s": spans.total("catalog.resolve"),
        "catalog.cache_fill_s": spans.total("catalog.cache_fill"),
        "spark.action_s": spans.total("spark.action", "steady") / n,
        **{f"spark.{k}": steady.get(k, 0.0) / n for k in (
            "jobs", "stages", "tasks", "run_s", "cpu_s", "gc_s", "deserialize_s",
            "shuffle_write_bytes", "shuffle_fetch_wait_s")},
        "ner_udf.python_init_s": steady.get("python_init_ms", 0.0) / 1e3 / n,
        "ner_udf.first_python_init_s": events.get("first", {}).get("python_init_ms", 0.0) / 1e3,
        "ner_udf.python_run_s": steady.get("python_run_ms", 0.0) / 1e3 / n,
        "ner_udf.bytes_to_python": steady.get("bytes_to_python", 0.0) / n,
        "ner_udf.bytes_from_python": steady.get("bytes_from_python", 0.0) / n,
        "mem.tree_peak_rss_mb": peak_rss_mb,
        **run.layers,
        **{f"trace.{k}": v for k, v in _end_to_end(run).items()},
    }
    # layers a workload does not exercise did no work on it
    return {name: values.get(name, 0.0) for name in PER_LAYER}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("sql_mixed", "ner_batch"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=0.1, help="scale factor of the tables")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    for mod in ("duckdb_ner_spark", "tools.selfcheck", "tools.convert_model"):
        if importlib.util.find_spec(mod) is None:
            print(f"perfbench: {mod} is not importable from {ROOT}", file=sys.stderr)
            return 2

    import datagen
    from tracing import TreeRssSampler, event_log_totals
    from workloads import WORKLOADS, Run, tuned_conf

    tmp = os.path.join(WORK, "tmp")
    _prepare_env(tmp)
    load_start, steal_start = _loadavg(), _cpu_steal_s()

    # benchmark inputs: generated, not part of the set-up being measured
    t_inputs = time.perf_counter()
    with open(datagen.__file__, "rb") as f:  # tables are reused until the generator changes
        gen_id = hashlib.sha256(f.read()).hexdigest()[:12]
    data_dir = datagen.ensure_tables(
        os.path.join(WORK, "data", f"sf{args.sf:g}-d{DATA_SEED}-{gen_id}"), args.sf, DATA_SEED)
    models = (datagen.write_models(os.path.join(WORK, "models"), args.seed)
              if args.workload == "ner_batch" else {})
    inputs_s = time.perf_counter() - t_inputs

    conf = {**tuned_conf(_nproc()),
            # JVM scratch files into the checkout; no hsperfdata file in /tmp
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse")}
    log_dir = None
    if args.trace:
        log_dir = os.path.join(WORK, "eventlog", f"{args.workload}-{os.getpid()}")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + log_dir,
                     "spark.eventLog.compress": "false"})

    run = Run(args.seed, args.seconds, data_dir, conf, setup_start=PROCESS_START + inputs_s,
              trace=bool(args.trace), models=models)
    from duckdb_ner_spark.session import get_spark

    with contextlib.ExitStack() as stack:
        sampler = stack.enter_context(TreeRssSampler()) if args.trace else None
        stack.callback(lambda: run.spark is not None and _stop_spark(run.spark))
        WORKLOADS[args.workload](run, get_spark)
        run.set_phase("end")
        session_conf = {k: v for k, v in run.spark.sparkContext.getConf().getAll()
                        if k.startswith(("spark.sql.", "spark.duckdb_ner.", "spark.ner.",
                                         "spark.master", "spark.locality.", "spark.driver.memory",
                                         "spark.eventLog.enabled"))}
    phases = list(run.phase_starts)
    phase_s = {p: run.phase_starts[q] - run.phase_starts[p] for p, q in zip(phases, phases[1:])}
    phase_cpu_s = {p: run.phase_cpu[q] - run.phase_cpu[p] for p, q in zip(phases, phases[1:])}

    end_to_end = _end_to_end(run)
    if args.trace:
        metrics = {k: _metric(v, PER_LAYER[k]) for k, v in
                   _per_layer(run, event_log_totals(log_dir), sampler.peak_mb).items()}
        os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
        run.spans.dump(os.path.join(WORK, "runs", f"{args.workload}-{args.seed}-spans.json"))
        shutil.rmtree(log_dir, ignore_errors=True)
    else:
        metrics = {k: _metric(v, "s") for k, v in end_to_end.items()}

    stamp = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "sf": args.sf, "nproc": _nproc(),
        "load_1m_start": load_start, "load_1m_end": _loadavg(),
        "cpu_steal_s": _cpu_steal_s() - steal_start,
        "git_commit": _git_commit(), "versions": _versions(),
        "blas_env": {k: os.environ.get(k) for k in
                     ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS")},
        "session_conf": session_conf, "inputs_s": inputs_s,
        "wall_s": time.perf_counter() - PROCESS_START, "phase_s": phase_s,
        "phase_cpu_s": phase_cpu_s,
        "round_times_s": run.rounds,
        "steady_op_medians_s": {k: statistics.median(v) for k, v in run.steady_ops.items()},
        "failures": run.failures,
    }
    print(json.dumps({"stamp": stamp}))
    print(json.dumps({"correct": not run.failures, "attempted": run.attempted,
                      "failed": len(run.failures), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
