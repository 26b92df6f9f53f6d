"""DuckDB-side timing of the headline queries' oracle SQL (the de facto
baseline — the reference publishes no numbers, BASELINE.md).

Runs each oracle at $SPARK_GRAFT_SF_DIR, best-of-3 after one warmup, and
prints one JSON line mirroring bench.py so ratios are per-query comparable.
Queries without an oracle (q_ner*) are skipped and reported as null.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def duckdb_pair(sf_dir: str, headline: list[str], oracles: dict[str, str]) -> dict:
    """Cold + steady DuckDB timings of the headline oracles — importable so
    bench.py can embed the same-run pair in its own artifact (per-query
    ratios trackable round-over-round, VERDICT r5 #5)."""
    import duckdb

    from duckdb_ner_spark.sources.catalog import TABLES

    def fresh_con():
        c = duckdb.connect()
        for t in TABLES:
            c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        return c

    # cold pass first (mirrors bench.py cold_*): fresh connection per query,
    # single run, no warm buffer pool — first-run latency
    cold_timings: dict[str, float | None] = {}
    for name in headline:
        sql = oracles.get(name)
        if sql is None:
            cold_timings[name] = None
            continue
        c = fresh_con()
        t0 = time.time()
        c.execute(sql).fetchall()
        cold_timings[name] = round(time.time() - t0, 3)
        c.close()
    cold_total = round(sum(v for v in cold_timings.values() if v is not None), 3)

    con = fresh_con()
    timings: dict[str, float | None] = {}
    for name in headline:
        sql = oracles.get(name)
        if sql is None:
            timings[name] = None
            continue
        con.execute(sql).fetchall()  # warmup (buffer pool)
        best = float("inf")
        for _ in range(3):
            t0 = time.time()
            con.execute(sql).fetchall()
            best = min(best, time.time() - t0)
        timings[name] = round(best, 3)
    con.close()

    total = round(sum(v for v in timings.values() if v is not None), 3)
    return {
        "value": total,
        "queries": timings,
        "cold_value": cold_total,
        "cold_queries": cold_timings,
    }


def main() -> None:
    import __spark_entry__ as entrymod
    from bench import HEADLINE

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or "0.1")

    pair = duckdb_pair(sf_dir, HEADLINE, entrymod.oracle_sql())
    print(
        json.dumps({"metric": "duckdb_oracle_total", "unit": "sec", "sf": sf, **pair})
    )


if __name__ == "__main__":
    main()
