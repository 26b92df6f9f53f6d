"""Decompose the COLD bench pass (bench.py's first-run-latency number):
per query, on a fresh session with engine-default confs and no plan cache,
measure
- build: Python-side DataFrame construction (Py4J round trips + analysis)
- exec:  first .count() on the built DataFrame (optimize + codegen compile +
         AQE stage scheduling + run)
Single run each — cold means first run by definition. Prints a table plus
totals so cold-path work has the same feedback loop tools/bench_profile.py
gives the steady state.

Usage: python tools/bench_cold_profile.py [--conf k=v ...] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

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

    import __spark_entry__ as entrymod
    from bench import COLD_CONF, HEADLINE, cold_warmup
    from duckdb_ner_spark.plans import cachereg
    from duckdb_ner_spark.session import get_spark

    spark = get_spark("bench-cold-profile")
    cold = spark.newSession()
    # identical protocol to bench.py's cold pass: engine defaults + warmup
    for k, v in {**COLD_CONF, **extra}.items():
        cold.conf.set(k, v)
    cachereg.clear()
    cold_warmup(cold)

    qs = entrymod.queries()
    names = only or HEADLINE
    rows = []
    for name in names:
        t0 = time.time()
        df = qs[name](cold, sf_dir)
        t1 = time.time()
        df.count()
        t2 = time.time()
        rows.append((name, t1 - t0, t2 - t1, t2 - t0))

    print(f"{'query':24s} {'build':>8s} {'exec':>8s} {'total':>8s}")
    for name, b, e, t in rows:
        print(f"{name:24s} {b:8.3f} {e:8.3f} {t:8.3f}")
    tb, te, tt = (sum(r[i] for r in rows) for i in (1, 2, 3))
    print(f"{'TOTAL':24s} {tb:8.3f} {te:8.3f} {tt:8.3f}")


if __name__ == "__main__":
    main()
