"""SparkSession factory with engine defaults.

Spark-first analogue of the reference's extension bootstrap
(``/root/reference/src/ner_extension.cpp:188-218``): one place that pins the
session-level knobs every operator in this engine assumes.

Scale notes (100 TB design bar):
- AQE on: runtime coalescing of shuffle partitions, skew-join splitting and
  dynamic broadcast decisions replace hand-tuned partition counts when the
  same plans run on a 1000-executor cluster.
- ``spark.sql.session.timeZone=UTC``: deterministic timestamp semantics and
  oracle (DuckDB) parity; DuckDB timestamps are wall-clock naive.
- Arrow enabled: every Python-side operator in this engine is Arrow-batched
  (the ``ner()`` Arrow UDF, pandas UDFs, mapInPandas) — the analogue of
  DuckDB's 2048-row DataChunk
  (``/root/reference/src/ner_extension.cpp:49-51``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Conf keys owned by this engine (analogue of DuckDB extension options,
# /root/reference/src/ner_extension.cpp:215-217).
CONF_MODEL_PATH = "spark.ner.modelPath"
CONF_TRUNCATE = "spark.ner.truncate"


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "duckdb-ner-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's pinned defaults."""
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Coalesce to the advisory partition SIZE rather than stopping at max
        # parallelism — the Spark-docs-recommended production setting: at
        # 100 TB it sizes reduce tasks to data (not to a hand-tuned count);
        # on small inputs it collapses near-empty reduce tasks instead of
        # scheduling `shuffle.partitions` of them.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # DataChunk-sized Arrow batches for Python UDFs (SURVEY.md §4.2).
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # Engine option defaults (reference default: truncate=true,
        # /root/reference/src/ner_extension.cpp:53).
        .config(CONF_TRUNCATE, "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # events.parquet carries INT64 TIMESTAMP(NANOS) which Spark rejects;
        # read as long and convert in the catalog (ns→µs, DuckDB does the same
        # truncation — SURVEY.md §2.C dialect hazards).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
