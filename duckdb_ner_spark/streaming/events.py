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

import itertools

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


def windowed_counts(events: DataFrame, slide: str | None = None) -> DataFrame:
    """Tumbling (or, with ``slide``, hopping) 1-hour window counts per
    event_type with a 2-hour watermark (streaming) — watermark is a no-op
    under batch, so one definition serves both."""
    e = events
    if e.isStreaming:
        e = e.withWatermark("ts", "2 hours")
    win = F.window("ts", "1 hour", slide) if slide else F.window("ts", "1 hour")
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


def stage_stream(sf_dir: str, table: str, parts: int) -> str:
    """Stage ``{sf_dir}/{table}.parquet`` for the file stream source, which
    tails a *directory* (in production the directory IS the landing zone),
    and return that directory.

    The table is split into ``parts`` row-range slices with ascending
    mtimes, so a ``maxFilesPerTrigger=1`` availableNow drain runs that many
    REAL micro-batches in row order — state accumulation, watermark
    advancement and window merges are exercised across batches, not
    collapsed into one. The testdata tables are stored in event-time and
    doc_id order (asserted in tests), so no row is ever late relative to
    the advancing watermark.

    The staging dir is DETERMINISTIC per (sf_dir, table, parts) within a
    process: re-runs against the same checkpoint see the same source path,
    and temp usage is bounded at one copy per source. A marker holds the
    source's ``(st_mtime_ns, st_size)`` and ``parts``; the slices are
    rewritten whenever it differs, so a replaced source file never streams
    through a stale copy. The dir is per pid and removed at interpreter
    exit, like ``writers.scratch_dir``: no staged copy outlives its process,
    and no process removes a copy that another one is streaming. So a
    checkpoint kept past its process would see the next process's copy as
    new files; the staged stream is a stand-in for a landing zone, and its
    checkpoints live as long as the process."""
    import hashlib
    import json
    import math
    import os
    import tempfile

    import pyarrow.parquet as pq

    from ..sources.writers import remove_at_exit

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    stage = remove_at_exit(
        os.path.join(tempfile.gettempdir(), f"{table}_stream_{parts}_{tag}_{os.getpid()}")
    )
    os.makedirs(stage, exist_ok=True)
    source = f"{sf_dir}/{table}.parquet"
    marker = os.path.join(stage, "_staged.json")
    s = os.stat(source)
    want = {"mtime_ns": s.st_mtime_ns, "size": s.st_size, "parts": parts}
    try:
        with open(marker) as fh:
            have = json.load(fh)
    except FileNotFoundError:
        have = None
    if have == want:
        return stage
    tbl = pq.read_table(source)
    per = max(1, math.ceil(tbl.num_rows / parts))
    for f in os.listdir(stage):
        if f.endswith(".parquet"):
            os.remove(os.path.join(stage, f))
    for i in range(parts):
        sl = tbl.slice(i * per, per)
        if sl.num_rows == 0:
            break
        p = os.path.join(stage, f"part-{i}.parquet")
        # Pin the parquet format version: the events readStream schema is
        # OBSERVED from the source file, so the slices must round-trip the
        # source's physical types exactly (a default format version that
        # coerces TIMESTAMP(NANOS)→micros would break the nanosAsLong read
        # path). ADVICE r3.
        pq.write_table(sl, p, version="2.6")
        # ascending mtimes pin the file-source processing order to the row
        # order of the slices
        mtime_ns = s.st_mtime_ns + i * 1_000_000_000
        os.utime(p, ns=(mtime_ns, mtime_ns))
    with open(marker, "w") as fh:
        json.dump(want, fh)
    return stage


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table as a file stream of N_STREAM_PARTS time-ordered
    micro-batches (see ``stage_stream``)."""
    source = f"{sf_dir}/events.parquet"
    raw = (
        spark.readStream.schema(_observed_events_schema(spark, source))
        .option("maxFilesPerTrigger", "1")
        .parquet(stage_stream(sf_dir, "events", N_STREAM_PARTS))
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


_SINK_IDS = itertools.count()


def drain_to_memory(df: DataFrame, mode: str) -> DataFrame:
    """Run a streaming frame to completion (availableNow) into a fresh
    memory sink and return the sink table. Unique name per call: memory
    sinks live for the session, and a second drain must not race a stale
    registration."""
    name = f"dns_sink_{next(_SINK_IDS)}"
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    await_drain(q)
    return df.sparkSession.table(name)
