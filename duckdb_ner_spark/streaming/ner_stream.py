"""Streaming NER: the Tier-A ``ner()`` Arrow UDF applied inside Structured
Streaming (beyond-reference surface — the reference extension is batch-only,
SURVEY.md §2.E; its host DuckDB has no streaming at all).

This is the shape of a production ingest pipeline: documents land as files
(Kafka at real scale), each micro-batch runs the Arrow-batched NER UDF
(per-executor model singleton — the same distribution story as the batch
path, duckdb_ner_spark/functions/ner_udf.py), and entity counts aggregate
in complete mode.

Scale notes (100 TB): the UDF stage is stateless — state lives only in the
final count aggregation keyed by entity label (tiny domain, 9 labels /
4 classes — /root/reference/src/ner_extension.cpp:97). The expensive model
evaluation scales out embarrassingly with input partitions; watermarking is
unnecessary because documents carry no event time and the aggregate domain
is bounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..functions.ner_udf import session_ner_udf
from .events import stage_stream

DOCS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ]
)


def stream_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over documents, staged whole as one micro-batch
    (``events.stage_stream`` — the file source tails directories, not
    single files)."""
    stage = stage_stream(sf_dir, "documents", 1)
    return spark.readStream.schema(DOCS_SCHEMA).parquet(stage)


N_DOC_SLICES = 4  # staged micro-batch count for the sliced documents stream


def stream_documents_sliced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents staged as N_DOC_SLICES doc_id-ordered slices and read with
    ``maxFilesPerTrigger=1`` — an availableNow drain runs N REAL
    micro-batches, so cross-batch aggregate state (and any stream-static
    join re-executed per batch) is exercised for real instead of collapsing
    into one batch."""
    return (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(stage_stream(sf_dir, "documents", N_DOC_SLICES))
    )


def entity_label_counts(
    spark: SparkSession, docs: DataFrame, model_path: str | None = None
) -> DataFrame:
    """doc → ner(text) → explode entities → count per label.

    One definition serves batch and stream (the aggregation is identical;
    only the sink differs). The model path and default truncate are the
    batch UDF's conf snapshot taken at plan time (``session_ner_udf``;
    reference eagerly loads on SET, /root/reference/src/
    ner_extension.cpp:183-186; the difference is documented in ner_udf.py);
    an explicit ``model_path`` replaces the path conf."""
    udf = session_ner_udf(spark, model_path)
    ents = docs.select(
        "doc_id", F.explode(udf(F.col("text"))).alias("ent")
    )
    return ents.groupBy(F.col("ent.label").alias("label")).agg(
        F.count("*").alias("n")
    )
