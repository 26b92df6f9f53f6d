"""Materialization sinks (SURVEY.md C39): parquet / csv / json writers plus
the bucketed-table layout used for co-located joins at scale.

Scale notes (100 TB): ``write_bucketed`` is the mechanism that turns the
fact-fact joins of the corpus (lineitem⋈orders on orderkey) into shuffle-free
sort-merge joins: both sides bucketed by the join key with the same bucket
count read back co-partitioned. Partitioned writes (``partition_cols``) give
partition pruning on date-sliced scans.
"""

from __future__ import annotations

import hashlib
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession

_SCRATCH_DIRS: set[str] = set()


def _cleanup_scratch() -> None:
    import shutil

    for p in _SCRATCH_DIRS:
        shutil.rmtree(p, ignore_errors=True)


def scratch_dir(name: str, sf_dir: str) -> str:
    """Staging directory ``name`` of a declared query over ``sf_dir``; every
    name in use is distinct across the registry. Keyed on the FULL source
    path (hashed), not the basename — distinct datasets sharing a dir name
    must not collide.

    os.getpid(): staging is re-run per call (cache_plan=False), and two
    CONCURRENT processes (pytest + selfcheck on the same sf_dir) must not
    overwrite each other's staged files mid-read — observed as a transient
    q_schema_evolution failure when the full sweep ran beside the suite.
    Per-pid paths would otherwise accumulate across runs (r4 ADVICE), so
    every dir this process creates is removed at interpreter exit."""
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    return remove_at_exit(os.path.join(tempfile.gettempdir(), f"dns_{name}_{tag}_{os.getpid()}"))


def remove_at_exit(path: str) -> str:
    """Register the directory ``path`` for removal at interpreter exit and
    return it."""
    if not _SCRATCH_DIRS:
        import atexit

        atexit.register(_cleanup_scratch)
    _SCRATCH_DIRS.add(path)
    return path


def write_parquet(df: DataFrame, path: str, partition_cols: list[str] | None = None) -> None:
    w = df.write.mode("overwrite")
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.parquet(path)


def write_csv(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").option("header", "true").csv(path)


def write_json(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").json(path)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    n_buckets: int = 32,
    sort_col: str | None = None,
) -> None:
    """Persist as a bucketed managed table (requires a warehouse dir)."""
    w = df.write.mode("overwrite").bucketBy(n_buckets, bucket_col)
    if sort_col:
        w = w.sortBy(sort_col)
    w.saveAsTable(table_name, format="parquet")


def read_csv(spark: SparkSession, path: str, schema=None) -> DataFrame:
    r = spark.read.option("header", "true")
    if schema is not None:
        r = r.schema(schema)
    else:
        r = r.option("inferSchema", "true")
    return r.csv(path)


def read_json(spark: SparkSession, path: str, schema=None) -> DataFrame:
    r = spark.read
    if schema is not None:
        r = r.schema(schema)
    return r.json(path)
