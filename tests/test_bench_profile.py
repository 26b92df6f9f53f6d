"""Smoke test of tools/bench_profile.py, the per-layer profiler of bench.py's
timing protocol.

Runs the tool in a subprocess: the event log must be on when the Spark
context starts, and the suite's shared session has it off."""

import json
import os
import subprocess
import sys

from tests.conftest import SF_SMOKE

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
QUERIES = ("q_agg_group", "q_ner", "q_ner_bert")


def test_profiler_reports_both_passes_with_layers():
    # a second JVM beside the suite's session: keep its heap small
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=SF_SMOKE, SPARK_GRAFT_DRIVER_MEM="2g")
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "bench_profile.py"), *QUERIES],
        env=env,
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    assert len(lines) == 1, proc.stdout
    prof = json.loads(lines[0])

    q = prof["queries"]
    assert set(q) == set(QUERIES)
    for name, passes in q.items():
        assert set(passes) == {"cold", "steady"}, name
        assert len(passes["cold"]["exec_s"]) == 1
        assert len(passes["steady"]["build_s"]) == prof["steady_runs"]
        assert len(passes["steady"]["exec_s"]) == prof["steady_runs"]
        for p in passes.values():
            assert p["layers"]["tasks"] > 0, (name, p)
    assert q["q_agg_group"]["steady"]["layers"]["shuffle_write_bytes"] > 0
    assert q["q_ner"]["steady"]["layers"]["bytes_from_python"] > 0
    # the noop sink computes every column, so q_ner_bert's inference UDF
    # really runs; under count() Catalyst prunes it and no bytes come back
    assert q["q_ner_bert"]["steady"]["layers"]["bytes_from_python"] > 0

    # the OpenBLAS kernels behind the NER layers: the driver keeps its own,
    # the workers load the core get_spark chose (or the same one if none)
    from duckdb_ner_spark.session import chosen_worker_blas_core, openblas_corename

    driver = openblas_corename()
    chosen = chosen_worker_blas_core({})
    assert prof["blas_core"] == {"driver": driver, "workers": chosen or driver}
