"""Structured Streaming over the events table (beyond-reference surface —
the reference has no streaming, SURVEY.md §2.E; this is the Spark-native
path a production events pipeline would run).

Batch/stream parity: the same windowed aggregation expressed once, runnable
in batch or as a micro-batch stream over the parquet file source with a
watermark for late data. Tests assert stream result == batch result.

Scale notes: file-source streaming shards by file; at production scale the
source is Kafka with the identical transformation; the watermark bounds
state, and the (user_id × window) grouping is the shuffle key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType, TimestampNTZType


def _observed_events_schema(spark: SparkSession, path: str) -> StructType:
    """Streaming sources cannot infer a schema — derive it from the file's
    OWN parquet footer (driver-only, one footer read) instead of hardcoding a
    layout. The testdata has shipped ``ts`` both as INT64 TIMESTAMP(NANOS)
    (surfaced as raw longs via nanosAsLong, the only way Spark reads nanos)
    and as plain ``timestamp[us]``; baking either in silently corrupts the
    other — a µs long divided by 1000 lands every event in 1970. DuckDB reads
    both physical types natively, so layout adaptivity is the parity bar."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark.read.parquet(path).schema


def _normalize(df: DataFrame) -> DataFrame:
    """Normalize ``ts`` to TIMESTAMP for the stream path, whatever the file
    layout. Watermarks hard-require TIMESTAMP (EVENT_TIME_IS_NOT_ON_TIMESTAMP
    _TYPE on NTZ), so unlike the batch catalog this path lands on the tz'd
    type. The session tz is UTC in this environment (and in the driver's
    vanilla harness), so both conversions below are instant-preserving and
    the windowed wall-clock results equal the batch/DuckDB NTZ replay."""
    t = df.schema["ts"].dataType
    if isinstance(t, LongType):
        # INT64-nanos layout: ns→µs truncation, exactly what DuckDB does
        # reading the same file. Integer division — ns values exceed 2^53,
        # double math drifts.
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(t, TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def windowed_counts(
    events: DataFrame, window: str = "1 hour", slide: str | None = None
) -> DataFrame:
    """Tumbling (or, with ``slide``, hopping) window counts per event_type
    with a 2-hour watermark (streaming) — watermark is a no-op under batch,
    so one definition serves both."""
    e = events
    if e.isStreaming:
        e = e.withWatermark("ts", "2 hours")
    win = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        e.groupBy(win.alias("w"), "event_type")
        # decimal-exact sum: micro-batch accumulation must not depend on
        # float addition order, so stream == batch == any SQL oracle
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(12,2)")), 2)
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


N_STREAM_PARTS = 4  # staged micro-batch count (events are time-ordered)


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The file stream source requires a *directory* (it tails new files);
    the testdata ships one file per table, so stage it into a temp dir —
    in production the directory IS the landing zone.

    The source is staged as N_STREAM_PARTS row-range slices with ascending
    mtimes and ``maxFilesPerTrigger=1``, so an availableNow drain runs N
    REAL micro-batches — state accumulation, watermark advancement and
    window merges are exercised across batches, not collapsed into one.
    The testdata events are globally time-ordered (asserted in tests), so
    slicing by row range preserves event-time order across batches and no
    row is ever late relative to the advancing watermark.

    The staging dir is DETERMINISTIC per source (hash of sf_dir): re-runs
    against the same checkpoint see the same source path, so checkpoint
    resume semantics hold, and temp usage is bounded at one copy per SF.
    Slices are refreshed whenever the source changes (mtime/size marker) —
    regenerated testdata at the same path must not leave batch/stream parity
    comparing different data through a stale copy (ADVICE r1)."""
    import hashlib
    import json
    import math
    import os
    import tempfile

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    stage = os.path.join(tempfile.gettempdir(), f"events_stream_{tag}")
    os.makedirs(stage, exist_ok=True)
    source = f"{sf_dir}/events.parquet"
    marker = os.path.join(stage, "_staged.json")
    s = os.stat(source)
    want = {"mtime": s.st_mtime, "size": s.st_size, "parts": N_STREAM_PARTS}
    have = None
    if os.path.exists(marker):
        with open(marker) as fh:
            have = json.load(fh)
    if have != want:
        import pyarrow.parquet as pq

        tbl = pq.read_table(source)
        per = max(1, math.ceil(tbl.num_rows / N_STREAM_PARTS))
        for f in os.listdir(stage):
            if f.endswith(".parquet"):
                os.remove(os.path.join(stage, f))
        base = s.st_mtime
        for i in range(N_STREAM_PARTS):
            sl = tbl.slice(i * per, per)
            if sl.num_rows == 0:
                break
            p = os.path.join(stage, f"part-{i}.parquet")
            # Pin the parquet format version: the readStream schema is
            # OBSERVED from the source file, so the staged slices must
            # round-trip the source's physical types exactly (a default
            # format version that coerces TIMESTAMP(NANOS)→micros would
            # break the nanosAsLong read path). ADVICE r3.
            pq.write_table(sl, p, version="2.6")
            # ascending mtimes pin the file-source processing order to the
            # event-time order of the slices
            os.utime(p, (base + i, base + i))
        with open(marker, "w") as fh:
            json.dump(want, fh)
    raw = (
        spark.readStream.schema(_observed_events_schema(spark, source))
        .option("maxFilesPerTrigger", "1")
        .parquet(stage)
    )
    return _normalize(raw)


def batch_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the stream — delegates to the engine catalog (the
    layout-adaptive, oracle-verified batch read) so stream/batch parity tests
    compare two INDEPENDENT read paths rather than a shared schema twin."""
    from ..sources.catalog import Catalog

    return Catalog(spark, sf_dir).table("events")


def session_counts(events: DataFrame) -> DataFrame:
    """30-minute-gap session windows per user (session_window) — one definition
    for batch and stream. Streaming runs in APPEND mode: a session is
    emitted exactly once, when the watermark passes its close (last event +
    gap) — so the drained sink holds every CLOSED session, and sessions
    still open at end-of-data stay in state. At 100 TB the (user × session)
    grouping is the shuffle key and the watermark bounds the session state;
    merges of adjacent sessions across micro-batches are handled by the
    session-window state store."""
    e = events
    if e.isStreaming:
        e = e.withWatermark("ts", "1 second")
    return (
        e.groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.date_format("sw.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
        )
    )


def run_stream_etl_to_parquet(
    spark: SparkSession, sf_dir: str, out_dir: str, checkpoint_dir: str
) -> None:
    """Streaming-ETL pattern via foreachBatch: each micro-batch is enriched
    with arbitrary batch-only logic (joins, dedup, upserts) and written as
    parquet. foreachBatch alone is at-least-once; the write below is made
    IDEMPOTENT by targeting a deterministic per-batch directory with
    overwrite mode — a replayed batch overwrites its own previous output,
    which together with the checkpoint yields effective exactly-once."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("day", F.to_date("ts"))
            .write.mode("overwrite")
            .parquet(f"{out_dir}/batch_id={batch_id}")
        )

    q = (
        stream_events(spark, sf_dir)
        .writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    await_drain(q)


def dedup_stream(events: DataFrame, keys: list[str] | None = None, watermark: str = "1 hour") -> DataFrame:
    """Streaming exact-dedup: dropDuplicatesWithinWatermark bounds the dedup
    state to the watermark horizon — the streaming sibling of
    operators.dedup.dedup_exact. At 100 TB the horizon is the knob trading
    state size against how late a duplicate can still be caught."""
    keys = keys or ["event_id"]
    if events.isStreaming:
        return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)
    return events.dropDuplicates(keys)


def await_drain(q) -> None:
    """availableNow queries terminate on their own; a False return means the
    drain did NOT finish within 300 s — raise instead of silently stopping
    mid-stream."""
    try:
        finished = q.awaitTermination(300)
        if not finished:
            raise TimeoutError("streaming drain did not finish within 300s")
    finally:
        q.stop()


def run_stream_to_memory(spark: SparkSession, sf_dir: str, table_name: str = "stream_out") -> None:
    """Drain the whole file source in availableNow micro-batches into an
    in-memory sink (complete mode), then stop."""
    q = (
        windowed_counts(stream_events(spark, sf_dir))
        .writeStream.format("memory")
        .queryName(table_name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    await_drain(q)
