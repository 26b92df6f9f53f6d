"""Declared queries for the source/sink surface (SURVEY.md C1/C39 breadth):
custom Python DataSource, CSV and JSON round-trips.

The CSV/JSON queries write a deterministic copy of a parquet table to a
scratch directory, read it back through the respective Spark source, and
aggregate; the oracle aggregates the original parquet view — so the
round-trip (write → parse → types) is what's actually under test.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.registry import declared
from ..sources.catalog import load_tables
from ..sources.writers import scratch_dir


@declared(
    "q_source_custom",
    cache_plan=False,
    oracle="""
    SELECT cat,
           COUNT(*) AS n,
           CAST(SUM(val) AS BIGINT) AS total_val,
           CAST(MIN(id) AS BIGINT) AS first_id
    FROM (SELECT i AS id, (i * i) % 97 AS val, 'cat_' || CAST(i % 5 AS VARCHAR) AS cat
          FROM range(1000) t(i))
    GROUP BY cat
    """,
)
def q_source_custom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource (partitioned executor-side generation) vs a
    DuckDB range() replay of the same formula."""
    from ..sources.pydatasource import register_synthetic_source

    register_synthetic_source(spark)
    df = spark.read.format("synthetic").option("n_rows", 1000).option("n_parts", 8).load()
    return df.groupBy("cat").agg(
        F.count("*").alias("n"),
        F.sum("val").cast("bigint").alias("total_val"),
        F.min("id").cast("bigint").alias("first_id"),
    )


@declared(
    "q_source_csv",
    cache_plan=False,
    oracle="""
    SELECT lang, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY lang
    """,
)
def q_source_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink+source round-trip: documents → csv → parse with explicit
    schema → aggregate; must equal the parquet-truth aggregate."""
    from ..sources.writers import read_csv, write_csv

    t = load_tables(spark, sf_dir)
    path = scratch_dir("csv_documents", sf_dir)
    docs = t.documents.select("doc_id", "lang", "n_chars")  # text has no commas, but keep it simple
    write_csv(docs, path)
    back = read_csv(spark, path, schema="doc_id BIGINT, lang STRING, n_chars BIGINT")
    return back.groupBy("lang").agg(
        F.count("*").alias("n"), F.sum("n_chars").cast("bigint").alias("total_chars")
    )


@declared(
    "q_source_json",
    cache_plan=False,
    oracle="""
    SELECT event_type, COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_value
    FROM events GROUP BY event_type
    """,
)
def q_source_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink+source round-trip over events (sans timestamps — JSON
    round-trips of µs timestamps are format-lossy; covered by parquet)."""
    from ..sources.writers import read_json, write_json

    t = load_tables(spark, sf_dir)
    path = scratch_dir("json_events", sf_dir)
    ev = t.events.select("event_id", "event_type", "value")
    write_json(ev, path)
    back = read_json(spark, path, schema="event_id BIGINT, event_type STRING, value DOUBLE")
    return back.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.sum(F.col("value").cast("decimal(12,2)")), 2).cast("double").alias("total_value"),
    )


@declared(
    "q_source_stream",
    cache_plan=False,
    oracle="""
    SELECT cat,
           COUNT(*) AS n,
           CAST(SUM(val) AS BIGINT) AS total_val,
           CAST(MAX(id) AS BIGINT) AS last_id
    FROM (SELECT i AS id, (i * i) % 97 AS val, 'cat_' || CAST(i % 5 AS VARCHAR) AS cat
          FROM range(1000) t(i))
    GROUP BY cat
    """,
)
def q_source_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python STREAMING DataSource (Spark 4
    SimpleDataSourceStreamReader): the engine-checkpointed offset cursor
    walks the deterministic generator in 250-row micro-batches (4 batches
    for 1000 rows); the drained sink must aggregate to the same answer as
    DuckDB's range() replay of the formula — proving the offset bookkeeping
    loses and duplicates nothing across batch boundaries.

    Scale notes: offsets are the source of truth (restart replays
    readBetweenOffsets), which is exactly the Kafka/file-source contract a
    production Python source implements; per-batch work happens executor-
    side, the driver only advances the cursor."""
    from ..sources.pydatasource import register_synthetic_stream_source

    register_synthetic_stream_source(spark)
    stream = (
        spark.readStream.format("synthetic_stream")
        .option("n_rows", 1000)
        .option("chunk", 250)
        .load()
    )
    name = f"dns_stream_src_{abs(hash(sf_dir)) % 10_000}"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return (
        spark.table(name)
        .groupBy("cat")
        .agg(
            F.count("*").alias("n"),
            F.sum("val").cast("bigint").alias("total_val"),
            F.max("id").cast("bigint").alias("last_id"),
        )
    )


from .multimodal import PPM_STAGE_STEP as BINFILE_STEP  # single definition


@declared(
    "q_source_binary",
    cache_plan=False,
    oracle=f"""
    WITH d AS (
        SELECT doc_id, LENGTH(text) AS n,
               (LENGTH(text) + 47) // 48 AS h
        FROM documents
        WHERE doc_id % {BINFILE_STEP} = 0 AND text IS NOT NULL AND LENGTH(text) > 0
    ), pos AS (
        SELECT doc_id,
               unnest([CAST(ord(substr(text, CAST(i AS INT), 1)) AS BIGINT)
                       FOR i IN range(1, LENGTH(text) + 1)]) AS v
        FROM documents
        WHERE doc_id % {BINFILE_STEP} = 0 AND text IS NOT NULL AND LENGTH(text) > 0
    )
    SELECT CAST((SELECT COUNT(*) FROM d) AS BIGINT) AS n_files,
           -- payload bytes on disk: header 'P6\\n16 {{h}}\\n255\\n' + 48*h raster
           CAST((SELECT SUM(11 + LENGTH(CAST(h AS VARCHAR)) + 48 * h) FROM d)
                AS BIGINT) AS total_bytes,
           CAST((SELECT SUM(16 * h) FROM d) AS BIGINT) AS total_px,
           CAST((SELECT SUM(v) FROM pos) AS BIGINT) AS total_sample_sum
    """,
)
def q_source_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """binaryFile SOURCE round-trip — the multimodal INGESTION path: every
    7th document is materialized as a REAL .ppm image file on disk
    (encode_ppm), the directory is read back through Spark's `binaryFile`
    format (path/length/content rows — the format a 100 TB image corpus
    actually arrives in), each file's content is decoded by the
    dependency-free PPM parser, and the corpus-level audit (file count,
    on-disk bytes, pixels, raster sample sum) must equal DuckDB's
    arithmetic replay from the source text: header bytes are
    11 + len(str(h)) ('P6\\n16 ' + h + '\\n255\\n'), raster is 48·h with
    zero padding contributing nothing to the sample sum.

    Scale notes (100 TB): binaryFile is splittable per FILE and prunes
    with pathGlobFilter/modifiedAfter predicates; decode runs inside
    mapInPandas (one parser per worker), payloads reduce to scalars before
    any shuffle. The staging write here is per-task too (foreachPartition
    writes its own files — no driver fan-out)."""
    import numpy as np
    import pandas as pd

    from .multimodal import decode_image, ppm_sample, stage_ppm_files

    t = load_tables(spark, sf_dir)
    path = scratch_dir("binfile_ppm", sf_dir)
    os.makedirs(path, exist_ok=True)
    stage_ppm_files(ppm_sample(t.documents, BINFILE_STEP), path)

    files = spark.read.format("binaryFile").load(path)

    def audit(batches):
        for pdf in batches:
            n, tb, tp, ts = 0, 0, 0, 0
            for content in pdf["content"]:
                img = decode_image(bytes(content))
                n += 1
                tb += len(content)
                tp += img.shape[0] * img.shape[1]
                ts += int(img.astype(np.int64).sum())
            yield pd.DataFrame(
                {
                    "n_files": [n],
                    "total_bytes": [tb],
                    "total_px": [tp],
                    "total_sample_sum": [ts],
                }
            )

    parts = files.select("content").mapInPandas(
        audit,
        "n_files LONG, total_bytes LONG, total_px LONG, total_sample_sum LONG",
    )
    return parts.agg(
        F.sum("n_files").cast("bigint").alias("n_files"),
        F.sum("total_bytes").cast("bigint").alias("total_bytes"),
        F.sum("total_px").cast("bigint").alias("total_px"),
        F.sum("total_sample_sum").cast("bigint").alias("total_sample_sum"),
    )


@declared(
    "q_source_text",
    cache_plan=False,
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars,
           CAST(SUM(doc_id) AS BIGINT) AS id_checksum
    FROM documents GROUP BY lang
    """,
)
def q_source_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-lines sink+source round-trip (the remaining built-in file
    format after csv/json/orc/parquet/binaryFile): documents are flattened
    to one `doc_id|lang|text` line each via the text SINK, read back
    through `spark.read.text` (one `value` row per line), re-parsed with
    two delimiter splits, and aggregated — the lang totals (including the
    payload's character count, proving the text body itself survived) must
    equal the parquet-truth aggregate. The corpus is ASCII words+spaces
    with no '|' or newlines (pinned by test_documents_corpus_is_ascii), so
    the framing is unambiguous.

    Scale notes (100 TB): text is the rawest ingest format a corpus
    arrives in; the source splits by file and by line within a file
    (newline-delimited, splittable like csv). Parsing is substring_index —
    JVM codegen, no Python."""
    from ..sources.catalog import load_tables as _lt

    t = _lt(spark, sf_dir)
    path = scratch_dir("text_documents", sf_dir)
    lines = t.documents.select(
        F.concat_ws("|", F.col("doc_id"), F.col("lang"), F.col("text")).alias("value")
    )
    lines.write.mode("overwrite").text(path)
    back = spark.read.text(path).select(
        F.substring_index("value", "|", 1).cast("bigint").alias("doc_id"),
        F.substring_index(F.substring_index("value", "|", 2), "|", -1).alias("lang"),
        F.expr("substr(value, length(substring_index(value, '|', 2)) + 2)").alias(
            "text"
        ),
    )
    return back.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.length("text")).cast("bigint").alias("total_chars"),
        F.sum("doc_id").cast("bigint").alias("id_checksum"),
    )


@declared(
    "q_sink_custom",
    cache_plan=False,
    oracle="""
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(doc_id) AS BIGINT) AS id_checksum
    FROM documents GROUP BY lang
    """,
)
def q_sink_custom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource WRITE path (Spark 4 DataSourceWriter) —
    the sink half of the bring-your-own-connector surface (the read halves
    are q_source_custom / q_source_stream): documents flow executor-
    parallel through ``kvtext`` (each task writes its own uniquely-named
    file and returns a commit message; the driver's commit() publishes a
    ``_committed`` manifest), then back through the manifest-driven
    reader, and the lang totals + id checksum must equal the parquet
    truth. The manifest IS the correctness mechanism under test: files
    from failed or speculative task attempts are never listed, so the
    round-trip proves the exactly-once two-phase commit contract every
    production sink (parquet _SUCCESS, Iceberg/Delta manifests)
    implements.

    Scale notes (100 TB): writes are per-task and never touch the driver
    (commit messages are filename+count tuples); read parallelism = the
    committed file count. A production variant shards by target-file size
    and commits to an object store — same protocol, same API."""
    from ..sources.pydatasource import register_kvtext_source

    t = load_tables(spark, sf_dir)
    register_kvtext_source(spark)
    path = scratch_dir("kvtext_documents", sf_dir)
    docs = t.documents.select("doc_id", "lang", "n_chars")
    docs.write.format("kvtext").option("path", path).mode("append").save()
    back = spark.read.format("kvtext").option("path", path).load()
    return back.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.sum("doc_id").cast("bigint").alias("id_checksum"),
    )
