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
    """File-source stream over documents (staged into a directory the same
    deterministic way as streaming.events.stream_events — the file source
    tails directories, not single files)."""
    import hashlib
    import os
    import shutil
    import tempfile

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    stage = os.path.join(tempfile.gettempdir(), f"docs_stream_{tag}")
    os.makedirs(stage, exist_ok=True)
    target = f"{stage}/documents.parquet"
    if not os.path.exists(target):
        shutil.copy(f"{sf_dir}/documents.parquet", target)
    return spark.readStream.schema(DOCS_SCHEMA).parquet(stage)


N_DOC_SLICES = 4  # staged micro-batch count for the sliced documents stream


def stream_documents_sliced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents staged as N_DOC_SLICES doc_id-ordered row-range slices with
    ascending mtimes and ``maxFilesPerTrigger=1`` — an availableNow drain
    runs N REAL micro-batches, so cross-batch aggregate state (and any
    stream-static join re-executed per batch) is exercised for real instead
    of collapsing into one batch (the streaming/events.py staging pattern
    applied to the documents corpus). Marker-refreshed when the source
    parquet changes; deterministic staging dir per SF."""
    import hashlib
    import json
    import math
    import os
    import tempfile

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    stage = os.path.join(
        tempfile.gettempdir(), f"docs_stream_sliced_{tag}"
    )
    os.makedirs(stage, exist_ok=True)
    source = f"{sf_dir}/documents.parquet"
    marker = os.path.join(stage, "_staged.json")
    s = os.stat(source)
    want = {"mtime": s.st_mtime, "size": s.st_size, "parts": N_DOC_SLICES}
    have = None
    if os.path.exists(marker):
        with open(marker) as fh:
            have = json.load(fh)
    if have != want:
        import pyarrow.parquet as pq

        tbl = pq.read_table(source)
        per = max(1, math.ceil(tbl.num_rows / N_DOC_SLICES))
        for f in os.listdir(stage):
            if f.endswith(".parquet"):
                os.remove(os.path.join(stage, f))
        base = s.st_mtime
        for i in range(N_DOC_SLICES):
            sl = tbl.slice(i * per, per)
            if sl.num_rows == 0:
                break
            p = os.path.join(stage, f"part-{i}.parquet")
            pq.write_table(sl, p, version="2.6")
            os.utime(p, (base + i, base + i))
        with open(marker, "w") as fh:
            json.dump(want, fh)
    return (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(stage)
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


def run_ner_stream_to_memory(
    spark: SparkSession,
    sf_dir: str,
    table_name: str = "ner_stream_out",
    model_path: str | None = None,
) -> None:
    """Drain the documents file source through the NER UDF in availableNow
    micro-batches; entity-label counts land in an in-memory sink (complete
    mode — the label domain is bounded, so complete-mode state is O(labels))."""
    from .events import await_drain

    agg = entity_label_counts(spark, stream_documents(spark, sf_dir), model_path)
    q = (
        agg.writeStream.format("memory")
        .queryName(table_name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    await_drain(q)
