"""Local replica of the driver's t2 correctness gate.

Runs every declared query at a given SF, runs its DuckDB oracle on the same
parquet, and compares row count, sorted column names, and values
(order-insensitive, after normalizing). Strict by default — the goal is
bit-identical values so the driver's value-hash matches.

Usage: python tools/selfcheck.py [sf_dir] [query ...]

Set ``VANILLA=1`` to run against a plain ``SparkSession.builder`` session with
none of the engine's confs — this reproduces the driver's harness exactly, so
read-path self-containment bugs (e.g. the events nanos conf, CORRECTNESS_r01)
surface here instead of in the round gate.
"""

from __future__ import annotations

import math
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _numeric_kind(col):
    """Classify a pandas column into the driver-hash-relevant numeric family.

    The driver's value-hash is type-sensitive: DuckDB HUGEINT surfaces as
    float64/object in pandas while Spark LONG stays int64, and the hashes
    differ even when every value is numerically equal (the r3 q_pii_scrub
    class). Returns one of 'int' / 'float' / 'bool' / 'decimal', or None for
    non-numeric columns (strings, dates, arrays — value comparison covers
    those)."""
    import decimal

    k = col.dtype.kind
    if k in "iu":
        return "int"
    if k == "f":
        return "float"
    if k == "b":
        return "bool"
    if col.dtype == object:
        for v in col:
            if v is None:
                continue
            if isinstance(v, bool):
                return "bool"
            if isinstance(v, decimal.Decimal):
                return "decimal"
            if isinstance(v, int):
                return "int"
            if isinstance(v, float):
                if not math.isnan(v):
                    return "float"
                continue
            return None
    return None


def dtype_mismatches(sdf, odf):
    """Columns whose numeric family differs between the Spark and DuckDB
    frames — each is a driver hash_match:false waiting to happen, even when
    the values compare equal after coercion."""
    out = []
    for c in sorted(sdf.columns):
        if c not in odf.columns:
            continue
        sk, ok = _numeric_kind(sdf[c]), _numeric_kind(odf[c])
        if sk is not None and ok is not None and sk != ok:
            out.append((c, sk, ok))
    return out


def normalize(df):
    """pandas frame → sorted-by-column-name, row-sorted list of tuples."""
    import pandas as pd

    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        col = df[c]
        if col.dtype == object:
            df[c] = col.map(lambda v: None if v is None or (isinstance(v, float) and math.isnan(v)) else str(v))
        elif str(col.dtype).startswith(("datetime", "timestamp")):
            df[c] = col.astype(str)
        # floats compared EXACTLY — the driver value-hashes raw values, so any
        # last-bit divergence must be engineered away in the queries themselves
        elif col.dtype.kind in "iu":
            df[c] = col.astype("Int64")
    rows = [tuple(None if (isinstance(v, float) and math.isnan(v)) or v is pd.NaT else v for v in r)
            for r in df.itertuples(index=False, name=None)]
    return sorted(rows, key=lambda r: tuple((x is None, str(x)) for x in r))


def main() -> int:
    import duckdb

    import __spark_entry__ as entrymod
    from duckdb_ner_spark.session import get_spark
    from duckdb_ner_spark.sources.catalog import TABLES

    sf_dir = sys.argv[1] if len(sys.argv) > 1 and "/" in sys.argv[1] else "/root/testdata/sf0.01"
    only = [a for a in sys.argv[1:] if "/" not in a]

    if os.environ.get("VANILLA"):
        # Mimic the driver: a bare session with no engine confs beyond what any
        # harness would set (shuffle partitions to keep local runs sane).
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[32]")
            .appName("selfcheck-vanilla")
            .config("spark.sql.shuffle.partitions", "32")
            .getOrCreate()
        )
    else:
        spark = get_spark("selfcheck")
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    from duckdb_ner_spark.plans.cachereg import persistent_rdd_count, release_caches
    from duckdb_ner_spark.plans.registry import assert_hashable_schema

    names = [n for n in qs if not only or n in only]
    n_pass = n_fail = n_rowsonly = 0
    for name in names:
        # cache hygiene (VERDICT r6 #5): queries must not depend on a
        # predecessor's persisted state, and the sweep must end with zero
        # persisted RDDs — release between queries, assert at the end.
        release_caches(spark)
        t0 = time.time()
        try:
            df = qs[name](spark, sf_dir)
            if name in oracles:
                # schema gate (VERDICT r11 #2): hash-declared queries must
                # not ship array/map/struct columns — the driver canon
                # cannot sort/hash them (the q_index_delta red row).
                assert_hashable_schema(df, name)
            sdf = df.toPandas()
        except Exception:
            print(f"FAIL {name}: spark query raised")
            traceback.print_exc()
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ROWS {name}: {len(sdf)} rows (rows-only, {time.time()-t0:.1f}s)")
            n_rowsonly += 1
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception:
            print(f"FAIL {name}: oracle raised")
            traceback.print_exc()
            n_fail += 1
            continue
        ok = True
        bad_kinds = dtype_mismatches(sdf, odf)
        if bad_kinds:
            print(f"FAIL {name}: numeric dtype-kind mismatch (driver hash would differ): "
                  + ", ".join(f"{c} spark={sk} duckdb={ok_}" for c, sk, ok_ in bad_kinds))
            ok = False
        if len(sdf) != len(odf):
            print(f"FAIL {name}: rowcount spark={len(sdf)} duckdb={len(odf)}")
            ok = False
        elif sorted(sdf.columns) != sorted(odf.columns):
            print(f"FAIL {name}: columns spark={sorted(sdf.columns)} duckdb={sorted(odf.columns)}")
            ok = False
        else:
            s_rows, o_rows = normalize(sdf), normalize(odf)
            if s_rows != o_rows:
                diffs = [(a, b) for a, b in zip(s_rows, o_rows) if a != b]
                print(f"FAIL {name}: {len(diffs)}/{len(s_rows)} rows differ; first 3:")
                for a, b in diffs[:3]:
                    print(f"   spark : {a}\n   duckdb: {b}")
                ok = False
        if ok:
            print(f"PASS {name}: {len(sdf)} rows ({time.time()-t0:.1f}s)")
            n_pass += 1
        else:
            n_fail += 1
    release_caches(spark)
    leaked = persistent_rdd_count(spark)
    print(f"\n== {n_pass} pass, {n_rowsonly} rows-only, {n_fail} fail / {len(names)} total ==")
    if leaked:
        print(f"FAIL cache-hygiene: {leaked} persisted RDDs survive release_caches")
        return 1
    return 1 if n_fail else 0


if __name__ == "__main__":
    import pandas as pd  # noqa: F401  (used in normalize)

    sys.exit(main())
