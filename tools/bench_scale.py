"""Scaling-tier bench (VERDICT r13 Next-round #4).

The driver's sf0.1 bench cannot demonstrate parallel speedup: ~600 k rows
across 32 cores is task-scheduling-bound and every 8v32 ratio reads <=1.07.
This tool replicates the sf0.1 testdata K-fold (deterministically, with
key-offset replicas so join structure is preserved and replica texts are
perturbed so they are not exact near-dups) and times a heavy-query subset
with the noop sink at two core counts in FRESH processes.

This is a measurement tool, not part of the driver contract: it times
through bench.time_query (bench's noop-sink action), queries are unchanged,
the scaled corpus is INPUT data generated from the testdata parquet on
every invocation (no result caching).

Usage:
  python tools/bench_scale.py            # generate (if absent) + run 32 vs 8
  python tools/bench_scale.py --factor 16 --runs 2
  python tools/bench_scale.py --cpus 8   # internal: one timed pass

Output: one JSON line per core count; the wrapper prints a final summary
{"factor", "rows", "per_query": {name: {"c32": s, "c8": s, "ratio": r}}}.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SRC = "/root/testdata/sf0.1"
QUERIES = ["q_join_multi", "q_dedup_near", "q_text_stats", "q_fingerprint", "q_ner_bert"]
OFF = 100_000_000  # replica key offset (well past any sf0.1 key)


def gen(scaled_dir: str, factor: int) -> None:
    """Replicate documents/embeddings/lineitem/orders/customer K-fold with
    key offsets; symlink the small dims unchanged."""
    from pyspark.sql import functions as F

    from duckdb_ner_spark.session import get_spark

    os.makedirs(scaled_dir, exist_ok=True)
    spark = get_spark("bench_scale_gen")
    reps = spark.range(factor).withColumnRenamed("id", "__r__")

    def write(df, name, n_files=32):
        out = f"{scaled_dir}/{name}.parquet"
        df.repartition(n_files).write.mode("overwrite").parquet(out)

    docs = spark.read.parquet(f"{SRC}/documents.parquet")
    write(
        docs.crossJoin(reps).select(
            (F.col("doc_id") + F.col("__r__") * OFF).alias("doc_id"),
            # perturb replica text by one trailing token so replicas are not
            # exact near-dups of each other (keeps LSH bucket sizes realistic)
            F.when(F.col("__r__") == 0, F.col("text"))
            .otherwise(F.concat_ws(" ", "text", F.concat(F.lit("rep"), "__r__")))
            .alias("text"),
            *[c for c in docs.columns if c not in ("doc_id", "text")],
        ),
        "documents",
    )
    emb = spark.read.parquet(f"{SRC}/embeddings.parquet")
    write(
        emb.crossJoin(reps).select(
            (F.col("vec_id") + F.col("__r__") * OFF).alias("vec_id"),
            *[c for c in emb.columns if c != "vec_id"],
        ),
        "embeddings",
    )
    li = spark.read.parquet(f"{SRC}/lineitem.parquet")
    write(
        li.crossJoin(reps).select(
            (F.col("l_orderkey") + F.col("__r__") * OFF).alias("l_orderkey"),
            *[c for c in li.columns if c != "l_orderkey"],
        ),
        "lineitem",
    )
    orders = spark.read.parquet(f"{SRC}/orders.parquet")
    write(
        orders.crossJoin(reps).select(
            (F.col("o_orderkey") + F.col("__r__") * OFF).alias("o_orderkey"),
            (F.col("o_custkey") + F.col("__r__") * OFF).alias("o_custkey"),
            *[c for c in orders.columns if c not in ("o_orderkey", "o_custkey")],
        ),
        "orders",
    )
    cust = spark.read.parquet(f"{SRC}/customer.parquet")
    write(
        cust.crossJoin(reps).select(
            (F.col("c_custkey") + F.col("__r__") * OFF).alias("c_custkey"),
            *[c for c in cust.columns if c != "c_custkey"],
        ),
        "customer",
    )
    for name in ("nation", "region", "supplier", "part", "events"):
        dst = f"{scaled_dir}/{name}.parquet"
        if not os.path.exists(dst):
            os.symlink(f"{SRC}/{name}.parquet", dst)
    spark.stop()


def run_pass(scaled_dir: str, runs: int) -> None:
    """One timed pass in THIS process (SPARK_GRAFT_CPUS already set).
    Engine-default session (AQE on, skew handling on) — at this tier there
    is real data for AQE to size, so the production configuration is the
    honest one; no sf0.1 bench knobs."""
    from bench import time_query
    from duckdb_ner_spark.session import get_spark

    spark = get_spark("bench_scale")
    timings = {}
    for name in QUERIES:
        spark.sparkContext.setJobDescription(f"scale-tier {name}")
        timed = time_query(spark, scaled_dir, name, runs, True)
        timings[name] = round(min(b + e for b, e in timed), 3)
    print(json.dumps({"cpus": os.environ.get("SPARK_GRAFT_CPUS"), "queries": timings}))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--factor", type=int, default=16)
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--cpus", type=int, default=0, help="internal single-pass mode")
    ap.add_argument("--dir", default="")
    ap.add_argument("--regen", action="store_true")
    args = ap.parse_args()
    scaled_dir = args.dir or f"/tmp/scaletier_x{args.factor}"

    if args.cpus:
        run_pass(scaled_dir, args.runs)
        return

    if args.regen and os.path.isdir(scaled_dir):
        shutil.rmtree(scaled_dir)
    if not os.path.isdir(f"{scaled_dir}/documents.parquet"):
        gen(scaled_dir, args.factor)

    results = {}
    for cpus in (32, 8):
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
        out = subprocess.run(
            [sys.executable, __file__, "--cpus", str(cpus), "--runs", str(args.runs),
             "--dir", scaled_dir],
            env=env, capture_output=True, text=True, check=True,
        )
        line = [ln for ln in out.stdout.splitlines() if ln.startswith("{")][-1]
        results[cpus] = json.loads(line)["queries"]
        print(line)
    summary = {
        "factor": args.factor,
        "per_query": {
            q: {
                "c32": results[32][q],
                "c8": results[8][q],
                "ratio_8v32": round(results[8][q] / results[32][q], 2),
            }
            for q in QUERIES
        },
    }
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
