"""Declared Structured Streaming queries (beyond-reference surface; the
reference has no streaming — SURVEY.md §2.E). Each query runs a REAL
micro-batch stream to completion (availableNow trigger) inside the declared-
query call, drains into an in-memory sink, and returns the sink table — so
the driver's oracle gate verifies actual Structured Streaming execution, not
a batch re-expression. The DuckDB oracle replays the same aggregation over
the raw events table, which is exactly the batch/stream-parity contract.

Scale notes (100 TB / production):
- The file source here stands in for Kafka; the transformations, watermarks
  and sinks are identical. availableNow is also the production backfill
  trigger (drain-everything-then-stop).
- q_stream_window: (window × event_type) is the shuffle key; the watermark
  bounds state. Decimal-exact sums make micro-batch accumulation order
  irrelevant — the property that lets a backfill and a live run agree.
- q_stream_dedup: dropDuplicatesWithinWatermark holds only the watermark
  horizon of keys in state — constant-bounded memory at any scale.
- q_stream_user_stats: applyInPandasWithState — arbitrary per-key state,
  partitioned by key across executors and checkpointed. Rows-only by design
  (custom stateful streaming is the task prompt's named non-SQL case).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.registry import declared
from ..sources.writers import scratch_dir
from ..streaming.events import drain_to_memory

_WINDOW_ORACLE = """
    SELECT STRFTIME(TIME_BUCKET(INTERVAL 1 HOUR, ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
"""


@declared("q_stream_window", cache_plan=False, oracle=_WINDOW_ORACLE)
def q_stream_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windowed counts computed BY A STREAM: the events file
    is drained through readStream → watermark → window agg → memory sink in
    availableNow micro-batches, and the sink is what's returned. The oracle
    is the batch replay (DuckDB TIME_BUCKET) — hash-matching it proves
    batch/stream parity through the driver's own gate. Complete output mode:
    every window is in the sink after the drain."""
    from ..streaming.events import stream_events, windowed_counts

    sink = drain_to_memory(windowed_counts(stream_events(spark, sf_dir)), mode="complete")
    return sink.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n",
        "total_value",
    )


_DEDUP_ORACLE = """
    SELECT event_type, COUNT(*) AS n_unique
    FROM (SELECT DISTINCT event_id, event_type FROM events)
    GROUP BY event_type
"""


@declared("q_stream_dedup", cache_plan=False, oracle=_DEDUP_ORACLE)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact-dedup drained to completion: each first-seen event_id
    passes through, later duplicates (within the watermark horizon) are
    dropped; the sink then aggregates per type. event_id is the table's
    unique key, so the deduped stream is deterministic and the oracle is a
    plain DISTINCT replay — what's verified is the streaming dedup path
    (state handling + append-mode emission), end to end."""
    from ..streaming.events import dedup_stream, stream_events

    sink = drain_to_memory(
        dedup_stream(stream_events(spark, sf_dir), keys=["event_id"]), mode="append"
    )
    return sink.groupBy("event_type").agg(F.count("*").alias("n_unique"))


_HOP_STREAM_ORACLE = """
    WITH starts AS (
        SELECT event_type, value,
               unnest([TIME_BUCKET(INTERVAL 30 MINUTE, ts),
                       TIME_BUCKET(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE])
                   AS ws
        FROM events
    )
    SELECT STRFTIME(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_value
    FROM starts
    GROUP BY 1, 2
"""


@declared("q_stream_hop", cache_plan=False, oracle=_HOP_STREAM_ORACLE)
def q_stream_hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping (sliding) windows BY A STREAM: 1-hour windows every 30 min
    over the multi-batch drain — each event contributes to 2 windows and
    window state accumulates across micro-batches; complete mode keeps every
    window in the sink. Oracle = the batch bucket-arithmetic replay (same
    SQL as batch q_hop_window — the batch/stream parity contract for
    sliding windows). Decimal-exact sums keep micro-batch accumulation
    order-independent."""
    from ..streaming.events import stream_events, windowed_counts

    sink = drain_to_memory(
        windowed_counts(stream_events(spark, sf_dir), slide="30 minutes"),
        mode="complete",
    )
    return sink.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n",
        "total_value",
    )


_SESSION_ORACLE = """
    WITH d AS (
        SELECT user_id, ts,
               LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
        FROM events
    ), i AS (
        SELECT user_id, ts,
               SUM(CASE WHEN prev IS NULL OR ts - prev > INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END)
                 OVER (PARTITION BY user_id ORDER BY ts) AS sid
        FROM d
    ), s AS (
        SELECT user_id, sid, MIN(ts) AS session_start, MAX(ts) AS last_ts,
               COUNT(*) AS n_events
        FROM i GROUP BY user_id, sid
    ), mx AS (SELECT MAX(ts) AS m FROM events)
    SELECT user_id,
           STRFTIME(session_start, '%Y-%m-%d %H:%M:%S') AS session_start,
           n_events
    FROM s, mx
    WHERE s.last_ts + INTERVAL 30 MINUTE <= mx.m - INTERVAL 1 SECOND
"""


@declared("q_stream_session", cache_plan=False, oracle=_SESSION_ORACLE)
def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows BY A STREAM in append mode: the events file drains in
    N_STREAM_PARTS micro-batches; the session-window state store merges
    sessions across batches and the advancing watermark emits each session
    exactly once when it closes. The sink therefore holds the CLOSED
    sessions; the oracle is the gaps-and-islands replay restricted to the
    same closed set (last event + gap <= max(ts) − watermark delay —
    Spark EMITS a session whose end equals the watermark exactly; pinned
    empirically in tests/test_streaming.py::test_session_boundary)."""
    from ..streaming.events import session_counts, stream_events

    return drain_to_memory(
        session_counts(stream_events(spark, sf_dir)), mode="append"
    )


_ENRICH_ORACLE = """
    SELECT c.c_mktsegment,
           COUNT(*) AS n_events,
           COUNT(DISTINCT e.user_id) AS n_users,
           CAST(ROUND(SUM(CAST(e.value AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
"""


@declared("q_stream_enrich", cache_plan=False, oracle=_ENRICH_ORACLE)
def q_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: the events STREAM joins the static
    customer dimension inside each micro-batch (the canonical streaming
    enrich — dimension broadcast per batch, no stream state needed for the
    join itself), then a running per-segment aggregate accumulates across
    batches in complete mode. Oracle = the batch join+agg replay. At 100 TB
    the static side is a broadcast (or a state-store-backed lookup for
    dimensions too big to broadcast); the stream side never shuffles for
    the join."""
    from ..sources.catalog import load_tables
    from ..streaming.events import stream_events

    cust = load_tables(spark, sf_dir).customer.select("c_custkey", "c_mktsegment")
    enriched = stream_events(spark, sf_dir).join(
        F.broadcast(cust), F.col("user_id") == F.col("c_custkey")
    )
    # exact COUNT(DISTINCT) is not supported inside a streaming aggregation;
    # the STREAMING part under test is the per-batch enrichment join, so
    # drain the enriched rows (append mode — pure join, no agg state) and
    # run the exact rollup on the sink.
    sink = drain_to_memory(
        enriched.select("c_mktsegment", "user_id", "value"), mode="append"
    )
    return sink.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.round(F.sum(F.col("value").cast("decimal(12,2)")), 2)
        .cast("double")
        .alias("total_value"),
    )


_SS_JOIN_ORACLE = """
    SELECT p.event_id,
           p.user_id,
           COUNT(*) AS n_clicks,
           STRFTIME(MAX(c.ts), '%Y-%m-%d %H:%M:%S.%f') AS last_click_ts
    FROM events p
    JOIN events c
      ON c.user_id = p.user_id
     AND c.event_type = 'click'
     AND c.ts >= p.ts - INTERVAL 1 HOUR
     AND c.ts <= p.ts
    WHERE p.event_type = 'purchase'
    GROUP BY p.event_id, p.user_id
"""


@declared("q_stream_join", cache_plan=False, oracle=_SS_JOIN_ORACLE)
def q_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM interval join: purchases joined to the same user's
    clicks from the preceding hour, both sides watermarked — the last major
    Structured Streaming primitive (two-sided state with watermark-bounded
    eviction: a click is held in state only until no future purchase can
    reach back to it). Inner join emits matches eagerly, so the availableNow
    multi-batch drain (time-ordered slices — no late data) yields the
    complete pair set; the exact per-purchase rollup runs on the sink.
    Oracle = the batch interval-join replay."""
    from ..streaming.events import stream_events

    p = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select("event_id", F.col("user_id").alias("p_user"), F.col("ts").alias("pts"))
        .withWatermark("pts", "1 second")
    )
    c = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("cts"))
        .withWatermark("cts", "1 second")
    )
    joined = p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("cts") >= F.col("pts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("cts") <= F.col("pts")),
    )
    sink = drain_to_memory(joined.select("event_id", "p_user", "cts"), mode="append")
    return (
        sink.groupBy("event_id", F.col("p_user").alias("user_id"))
        .agg(
            F.count("*").alias("n_clicks"),
            F.date_format(F.max("cts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "last_click_ts"
            ),
        )
    )


_SS_LEFT_ORACLE = """
    WITH p AS (SELECT event_id, user_id, ts AS pts FROM events WHERE event_type = 'purchase'),
    c AS (SELECT user_id AS c_user, ts AS cts FROM events WHERE event_type = 'click'),
    wm AS (
        -- the GLOBAL watermark is the min over both inputs' own event-time
        -- maxima (each minus its delay), NOT the table-wide max ts
        SELECT LEAST((SELECT MAX(pts) FROM p), (SELECT MAX(cts) FROM c))
               - INTERVAL 1 SECOND AS w
    ),
    j AS (
        SELECT p.event_id, p.user_id, p.pts, c.cts
        FROM p LEFT JOIN c
          ON c.c_user = p.user_id
         AND c.cts >= p.pts - INTERVAL 1 HOUR
         AND c.cts <= p.pts
    )
    SELECT event_id, user_id,
           COUNT(cts) AS n_clicks,
           STRFTIME(MAX(cts), '%Y-%m-%d %H:%M:%S.%f') AS last_click_ts
    FROM j, wm
    -- matched rows emit eagerly; a null row emits only once the left row's
    -- event time is at or below the global watermark (empirically pinned:
    -- the max-pts purchase — 1 s above the watermark by construction — is
    -- HELD, every unmatched purchase at or below it emits)
    WHERE cts IS NOT NULL OR pts <= wm.w
    GROUP BY event_id, user_id
"""


@declared("q_stream_left_join", cache_plan=False, oracle=_SS_LEFT_ORACLE)
def q_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT-OUTER stream-stream interval join — the subtle half of two-sided
    state: matched pairs emit eagerly, but a null row for an unmatched
    purchase emits only on state eviction. Two empirically-pinned facts the
    oracle must encode (verified against all three SFs): (1) the GLOBAL
    watermark is the MIN over both inputs' own event-time maxima minus
    their delays — the purchases stream's max pts, not the table-wide max
    ts, is usually the binding side; (2) an unmatched left row null-emits
    iff its event time is at or below that global watermark (the max-pts
    purchase, 1 s above it by construction, stays HELD). availableNow's
    trailing no-data batch performs the final eviction pass."""
    from ..streaming.events import stream_events

    p = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select("event_id", F.col("user_id").alias("p_user"), F.col("ts").alias("pts"))
        .withWatermark("pts", "1 second")
    )
    c = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("cts"))
        .withWatermark("cts", "1 second")
    )
    joined = p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("cts") >= F.col("pts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("cts") <= F.col("pts")),
        "left_outer",
    )
    sink = drain_to_memory(joined.select("event_id", "p_user", "cts"), mode="append")
    return (
        sink.groupBy("event_id", F.col("p_user").alias("user_id"))
        .agg(
            F.count("cts").alias("n_clicks"),
            F.date_format(F.max("cts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "last_click_ts"
            ),
        )
    )


@declared("q_stream_user_stats", cache_plan=False, oracle=None)
def q_stream_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): per-user
    running (count, total, last-seen ts) state updated each micro-batch;
    after the availableNow drain the sink holds every user's final state.
    Rows-only by design — arbitrary-state streaming is the prompt's named
    non-SQL-expressible case; value determinism is pinned separately by
    tests/test_streaming.py's batch-parity assertions."""
    from ..streaming.events import stream_events
    from ..streaming.stateful import running_user_stats

    sink = drain_to_memory(
        running_user_stats(stream_events(spark, sf_dir)), mode="update"
    )
    # update-mode sinks append one row per (user, micro-batch) emission —
    # keep each user's LAST emission (max n_events) as the final state
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        sink.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


@declared("q_stream_attribution", cache_plan=False, oracle=None)
def q_stream_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming last-touch attribution with UNBOUNDED lookback
    (applyInPandasWithState): each user's latest view timestamp is the
    entire state (O(1) per key), and purchases are attributed the moment
    they arrive — semantics a watermarked stream-stream interval join
    cannot express without unbounded join state (see
    streaming/attribution.py). Rows-only by design (arbitrary-state
    streaming is the prompt's named non-SQL case); value parity with the
    batch q_attribution is pinned by tests/test_streaming.py."""
    from ..streaming.attribution import streaming_attribution
    from ..streaming.events import stream_events

    return drain_to_memory(
        streaming_attribution(stream_events(spark, sf_dir)), mode="append"
    )


# --------------------------------------------------------------------------
# Streaming CDC apply: keep-latest-per-key over an append change stream
# --------------------------------------------------------------------------

_CDC_ORACLE = """
    WITH ranked AS (
        SELECT user_id,
               epoch_us(ts) AS ts_us,
               event_id,
               CAST(ROUND(value * 100) AS BIGINT) AS value_fx,
               ROW_NUMBER() OVER (PARTITION BY user_id
                   ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        FROM events
    )
    SELECT user_id,
           CAST(ts_us AS BIGINT) AS last_ts_us,
           CAST(event_id AS BIGINT) AS last_event_id,
           value_fx AS last_value_fx
    FROM ranked WHERE rn = 1
"""


@declared("q_stream_cdc", cache_plan=False, oracle=_CDC_ORACLE)
def q_stream_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC apply — the change-data-capture consumer: events are an
    append stream of per-user updates, and the materialized table must hold
    each key's LATEST row (max (event-time, event_id)). State is one row per
    key via applyInPandasWithState; an update is EMITTED only when a batch
    improves the key's (ts, event_id) high-water mark, so the sink is a
    monotone sequence of upserts per key and the final readout — max
    (ts_us, event_id) struct per key over the sink — is the exact CDC table
    REGARDLESS of how the stream was sliced into micro-batches. That
    batch-slicing independence is what the hash gate proves against the
    batch oracle (DuckDB row_number over the raw events).

    Engine-exactness: the recency order is (integer epoch micros, event_id)
    — no timestamp tie ambiguity; values are 1e2 fixed-point BIGINT.

    Scale notes (100 TB / production): O(1) state per key, hash-partitioned
    and checkpointed by the engine; emissions are deltas (quiet keys cost
    nothing per batch). The memory-sink readout aggregation stands in for
    the MERGE a table-format sink would run per micro-batch."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import LongType, StructField, StructType

    from ..streaming.events import stream_events

    state_schema = StructType(
        [
            StructField("ts_us", LongType()),
            StructField("event_id", LongType()),
            StructField("value_fx", LongType()),
        ]
    )
    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("ts_us", LongType()),
            StructField("event_id", LongType()),
            StructField("value_fx", LongType()),
        ]
    )

    def upsert(key, pdfs, state: GroupState):
        (user_id,) = key
        best = state.get if state.exists else None
        improved = False
        for pdf in pdfs:
            us = pdf["ts"].values.astype("datetime64[ns]").astype("int64") // 1000
            # value_fx is computed JVM-side (SQL ROUND, half-away) before
            # the stateful op — Python round() is half-to-even, a third
            # rounding semantics (the r4 BM25 ADVICE lesson)
            for ts_us, eid, vfx in zip(us, pdf["event_id"], pdf["value_fx"]):
                cand = (int(ts_us), int(eid), int(vfx))
                if best is None or (cand[0], cand[1]) > (best[0], best[1]):
                    best = cand
                    improved = True
        # emit ONLY when this batch advanced the high-water mark — a batch
        # of stale (out-of-order) rows must not re-emit unchanged state, or
        # the sink stops being a delta stream (r5 code-review finding; the
        # max-struct readout masked it, so only the contract drifted)
        if improved:
            state.update(best)
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "ts_us": [best[0]],
                    "event_id": [best[1]],
                    "value_fx": [best[2]],
                }
            )

    updates = (
        stream_events(spark, sf_dir)
        .select(
            "user_id",
            "ts",
            "event_id",
            F.expr("CAST(ROUND(value * 100) AS BIGINT)").alias("value_fx"),
        )
        .groupBy("user_id")
        .applyInPandasWithState(
            upsert,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    sink = drain_to_memory(updates, mode="append")
    # final CDC table: per key, the row with max (ts_us, event_id) across
    # all emitted upserts — batch-slicing independent by construction
    return (
        sink.groupBy("user_id")
        .agg(F.max(F.struct("ts_us", "event_id", "value_fx")).alias("s"))
        .select(
            "user_id",
            F.col("s.ts_us").cast("bigint").alias("last_ts_us"),
            F.col("s.event_id").cast("bigint").alias("last_event_id"),
            F.col("s.value_fx").cast("bigint").alias("last_value_fx"),
        )
    )


# --------------------------------------------------------------------------
# Streaming NER: the Tier-A UDF inside a micro-batch drain, declared
# --------------------------------------------------------------------------


@declared("q_stream_ner", cache_plan=False, oracle=None)
def q_stream_ner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NER ingest pipeline AS A STREAM, surfaced through the declared
    gate: documents drain through the Arrow-batched ner() UDF in
    availableNow micro-batches (per-executor model singleton), entity-label
    counts accumulate in complete mode, and the drained sink is returned.
    Rows-only (ner() has no SQL twin); stream==batch count parity is pinned
    in tests/test_streaming.py::test_ner_stream_matches_batch.

    Scale notes (100 TB): the UDF stage is stateless and scales with input
    partitions; aggregate state is O(label domain) = 4 classes + O —
    complete mode is bounded by construction."""
    from ..operators.ner_queries import DOC_STUB_MODEL
    from ..streaming.ner_stream import entity_label_counts, stream_documents

    agg = entity_label_counts(spark, stream_documents(spark, sf_dir), DOC_STUB_MODEL)
    return (
        drain_to_memory(agg, "complete")
        .select("label", F.col("n").cast("bigint").alias("n"))
        .orderBy("label")
    )


# --------------------------------------------------------------------------
# Streaming multimodal ingestion: binaryFile file-stream -> decode -> agg
# --------------------------------------------------------------------------

from .multimodal import IMG_ROW_BYTES, IMG_W
from .sources_queries import BINFILE_STEP

_STREAM_IMAGE_ORACLE = f"""
    WITH d AS (
        SELECT doc_id, LENGTH(text) AS n,
               CAST((LENGTH(text) + {IMG_ROW_BYTES - 1}) // {IMG_ROW_BYTES}
                    AS BIGINT) AS h
        FROM documents
        WHERE doc_id % {BINFILE_STEP} = 0
          AND text IS NOT NULL AND LENGTH(text) > 0
    ), pos AS (
        SELECT doc_id,
               unnest([CAST(ord(substr(text, CAST(i AS INT), 1)) AS BIGINT)
                       FOR i IN range(1, LENGTH(text) + 1)]) AS v
        FROM documents
        WHERE doc_id % {BINFILE_STEP} = 0
          AND text IS NOT NULL AND LENGTH(text) > 0
    ), ps AS (
        SELECT doc_id, CAST(SUM(v) AS BIGINT) AS ssum FROM pos GROUP BY doc_id
    )
    SELECT d.h AS height,
           CAST(COUNT(*) AS BIGINT) AS n_images,
           CAST(SUM({IMG_W} * d.h) AS BIGINT) AS total_px,
           CAST(SUM(ps.ssum) AS BIGINT) AS total_sample_sum
    FROM d JOIN ps ON d.doc_id = ps.doc_id
    GROUP BY d.h
"""


@declared("q_stream_image", cache_plan=False, oracle=_STREAM_IMAGE_ORACLE)
def q_stream_image(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING multimodal ingestion, hash-verified: real .ppm files are
    staged to a directory by executor tasks, then consumed as a FILE STREAM
    (readStream.format('binaryFile') — the production shape for an image
    corpus landing in object storage), decoded by the dependency-free PPM
    parser inside a streaming mapInPandas, aggregated per image height in a
    micro-batch drain (availableNow), and compared against DuckDB's
    characterwise replay from the source text. Batch/stream parity with
    REAL streaming execution — the multimodal twin of q_stream_window's
    contract, and unlike q_stream_ner this one has a full SQL oracle
    because the decode is arithmetic, not a model.

    Scale notes (100 TB): binaryFile streams split per file and checkpoint
    file offsets (maxFilesPerTrigger paces a backfill); decode emits 3
    scalars per image before the (height) shuffle; payloads never shuffle."""
    import os

    import numpy as np
    import pandas as pd

    from ..sources.catalog import load_tables
    from .multimodal import decode_image, ppm_sample, stage_ppm_files

    t_docs = load_tables(spark, sf_dir).documents
    path = scratch_dir("stream_ppm", sf_dir)
    os.makedirs(path, exist_ok=True)
    stage_ppm_files(ppm_sample(t_docs, BINFILE_STEP), path)

    stream = (
        spark.readStream.format("binaryFile")
        .schema(
            "path STRING, modificationTime TIMESTAMP, length LONG, content BINARY"
        )
        .load(path)
    )

    def decode(batches):
        for pdf in batches:
            hs, px, ss = [], [], []
            for content in pdf["content"]:
                img = decode_image(bytes(content))
                hs.append(int(img.shape[0]))
                px.append(int(img.shape[0] * img.shape[1]))
                ss.append(int(img.astype(np.int64).sum()))
            yield pd.DataFrame({"height": hs, "px": px, "ssum": ss})

    feats = stream.select("content").mapInPandas(
        decode, "height LONG, px LONG, ssum LONG"
    )
    agg = feats.groupBy("height").agg(
        F.count("*").cast("bigint").alias("n_images"),
        F.sum("px").cast("bigint").alias("total_px"),
        F.sum("ssum").cast("bigint").alias("total_sample_sum"),
    )
    sink = drain_to_memory(agg, "complete")
    return sink.select(
        F.col("height").cast("bigint").alias("height"),
        "n_images",
        "total_px",
        "total_sample_sum",
    )


_STREAM_DEDUP_INCR_ORACLE = """
    WITH docs AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), sh AS (
        SELECT doc_id, CASE WHEN len(ws) >= 3 THEN list_distinct([ws[i+0] || ' ' || ws[i+1] || ' ' || ws[i+2] FOR i IN range(1, len(ws) - 1)]) ELSE [] END AS shingles FROM docs
    ), e AS (
        SELECT doc_id, unnest(shingles) AS s FROM sh
    ), mh AS (
        SELECT doc_id, MIN(md5('s0|' || s)) AS h0, MIN(md5('s1|' || s)) AS h1, MIN(md5('s2|' || s)) AS h2, MIN(md5('s3|' || s)) AS h3, MIN(md5('s4|' || s)) AS h4, MIN(md5('s5|' || s)) AS h5, MIN(md5('s6|' || s)) AS h6, MIN(md5('s7|' || s)) AS h7
        FROM e GROUP BY doc_id
    ), bands AS (
        SELECT doc_id, 0 AS band, h0 || h1 AS sig FROM mh UNION ALL SELECT doc_id, 1 AS band, h2 || h3 AS sig FROM mh UNION ALL SELECT doc_id, 2 AS band, h4 || h5 AS sig FROM mh UNION ALL SELECT doc_id, 3 AS band, h6 || h7 AS sig FROM mh
    ), corpus AS (
        SELECT DISTINCT band, sig FROM bands WHERE doc_id % 2 = 0
    ), probe AS (
        SELECT b.doc_id,
               MAX(CASE WHEN c.band IS NOT NULL THEN 1 ELSE 0 END) AS hit
        FROM bands b
        LEFT JOIN corpus c ON b.band = c.band AND b.sig = c.sig
        WHERE b.doc_id % 2 = 1
        GROUP BY b.doc_id
    )
    SELECT doc_id FROM probe WHERE hit = 0
"""


@declared("q_stream_dedup_incr", cache_plan=False, oracle=_STREAM_DEDUP_INCR_ORACLE)
def q_stream_dedup_incr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEDUP-AT-INGEST: the incremental-LSH admission gate (q_dedup_incr)
    run as a STREAM — new documents (odd doc_ids) arrive as micro-batches,
    each batch is min-hash banded in-flight (stateless narrow transform),
    probed against the STATIC persistent (band, sig) corpus index via a
    broadcast stream-static join, and a per-doc max-hit aggregate admits
    the docs with zero collisions. This is the shape a production crawl
    runs at the front door: the corpus index is a slowly-growing static
    table, the crawl is unbounded, and admission must not rescan the
    corpus. Oracle = the same banding + probe replayed in batch SQL (the
    stream/batch parity contract); result identical to q_dedup_incr's
    admitted set by construction — what's verified END TO END is the
    streaming path: per-micro-batch banding, stream-static broadcast
    join, cross-batch aggregate state, complete-mode emission.

    Scale notes (100 TB): banding is per-row; the index join broadcasts
    only (band, sig) keys (or co-locates via (band, sig) bucketing when
    the index outgrows broadcast); per-doc state is one max-bit; admitted
    ids stream out. Production would emit per-batch via foreachBatch and
    append admitted docs' bands back to the index (q_dedup_incr's
    dedup_incremental returns survivor_bands for exactly that)."""
    from ..streaming.ner_stream import stream_documents
    from .dedup import minhash_bands

    t_corpus = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") % 2 == 0)
    )
    idx = (
        minhash_bands(t_corpus)
        .select("band", "sig")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    new_docs = stream_documents(spark, sf_dir).filter(F.col("doc_id") % 2 == 1)
    sbands = minhash_bands(new_docs)
    probe = sbands.join(F.broadcast(idx), ["band", "sig"], "left")
    admit = (
        probe.groupBy("doc_id")
        .agg(F.max(F.coalesce(F.col("hit"), F.lit(0))).alias("h"))
        .filter(F.col("h") == 0)
        .select("doc_id")
    )
    sink = drain_to_memory(admit, "complete")
    return sink.select("doc_id")


def _stream_gate_oracle() -> str:
    from .textstats import GATE_DISTINCT_DEN, GATE_DISTINCT_NUM, GATE_MIN_WORDS

    return f"""
    WITH per_doc AS (
        SELECT lang, n_chars,
               len(string_split(text, ' ')) AS n_words,
               len(list_distinct(string_split(text, ' '))) AS n_distinct
        FROM documents
    )
    SELECT lang,
           CASE WHEN n_words < {GATE_MIN_WORDS} THEN 'too_short'
                WHEN n_distinct * {GATE_DISTINCT_DEN}
                     < {GATE_DISTINCT_NUM} * n_words THEN 'repetitive'
                ELSE 'keep' END AS verdict,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM per_doc
    GROUP BY 1, 2
"""


@declared("q_stream_quality_gate", cache_plan=False, oracle=_stream_gate_oracle())
def q_stream_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality gate AT INGEST, as a stream: documents arrive through the
    file source and each micro-batch is scored map-only (word count and
    type/token ratio via split/array_distinct — no corpus statistics, so
    the gate needs no state beyond the final counter) and routed to a
    verdict (''too_short'' / ''repetitive'' / ''keep'', first matching rule
    wins — the same thresholds as the batch q_quality_gate family); the
    per-(lang, verdict) admission scorecard accumulates in complete mode.
    The oracle is the batch replay over the same corpus — stream/batch
    parity for the admission decision itself.

    Unlike q_quality_gate (corpus-frequency surprisal bands, batch-only by
    nature), every signal here is computable per-row at arrival, which is
    exactly what a front-door filter must be: the stream path costs one
    map and one bounded aggregate, and admitted docs could stream onward
    (append-mode routing) without waiting for any corpus pass.

    Scale notes (100 TB): scoring is JVM map-only (split + array_distinct
    + integer cross-multiplication — the ratio test is n_distinct*DEN <
    NUM*n_words, no division); complete-mode state is O(langs x 3 verdicts)
    regardless of corpus size; the file source stands in for Kafka as in
    every other q_stream_* query."""
    from ..streaming.ner_stream import stream_documents
    from .textstats import GATE_DISTINCT_DEN, GATE_DISTINCT_NUM, GATE_MIN_WORDS

    docs = stream_documents(spark, sf_dir)
    ws = F.split("text", " ")
    scored = docs.select(
        "lang", "n_chars",
        F.size(ws).alias("n_words"),
        F.size(F.array_distinct(ws)).alias("n_distinct"),
    ).select(
        "lang", "n_chars",
        F.when(F.col("n_words") < GATE_MIN_WORDS, "too_short")
        .when(
            F.col("n_distinct") * GATE_DISTINCT_DEN
            < GATE_DISTINCT_NUM * F.col("n_words"),
            "repetitive",
        )
        .otherwise("keep")
        .alias("verdict"),
    )
    agg = scored.groupBy("lang", "verdict").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )
    return drain_to_memory(agg, mode="complete")


@declared("q_stream_cusum", cache_plan=False, oracle=None)
def q_stream_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change detection AT INGEST (applyInPandasWithState): the
    batch q_cusum recursion s = max(0, s + cents - k) carried as four
    BIGINTs of per-event-type state across micro-batches, emitting the
    running (max excursion, peak event, alarm) scorecard every batch in
    update mode. Rows-only by design — arbitrary-state streaming is the
    prompt's named non-SQL-expressible case (same contract as
    q_stream_user_stats / q_stream_attribution); VALUE parity with the
    batch q_cusum's prefix-min closed form is pinned by
    tests/test_round7d_ops.py::test_stream_cusum_matches_batch.

    Scale notes (100 TB/day): per-key state is O(1); the ordered fold
    relies on the source's event-time order (the staged slices here; a
    Kafka deployment keys partitions by event_type so per-key order
    holds); alarms would route append-mode the first time the threshold
    is crossed."""
    from .stats import CUSUM_H_CENTS, CUSUM_K_CENTS
    from ..streaming.events import stream_events
    from ..streaming.stateful import running_cusum

    ev = stream_events(spark, sf_dir).select(
        "event_type", "ts", "event_id", "value"
    )
    sink = drain_to_memory(
        running_cusum(ev, CUSUM_K_CENTS, CUSUM_H_CENTS), mode="update"
    )
    # update-mode sinks append one row per (key, micro-batch) emission —
    # keep each type's LAST emission (max n_events) as the final state
    from pyspark.sql.window import Window

    w = Window.partitionBy("event_type").orderBy(F.desc("n_events"))
    return (
        sink.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
        .orderBy("event_type")
    )


def _stream_pipeline_oracle() -> str:
    from .dedup import N_BANDS, N_HASHES
    from .textprep import sql_shingles
    from .textstats import GATE_DISTINCT_DEN, GATE_DISTINCT_NUM, GATE_MIN_WORDS

    mh_cols = ", ".join(
        f"MIN(md5('s{k}|' || s)) AS h{k}" for k in range(N_HASHES)
    )
    corpus_bands = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, h{2 * b} || h{2 * b + 1} AS sig FROM cmh"
        for b in range(N_BANDS)
    )
    new_bands = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, h{2 * b} || h{2 * b + 1} AS sig FROM nmh"
        for b in range(N_BANDS)
    )
    return f"""
    WITH docs AS (
        SELECT doc_id, lang, n_chars, string_split(text, ' ') AS ws
        FROM documents
    ), feat AS (
        SELECT doc_id, lang, n_chars, len(ws) AS n_words,
               len(list_distinct(ws)) AS n_distinct,
               {sql_shingles()} AS shingles
        FROM docs
    ), ce AS (
        SELECT doc_id, unnest(shingles) AS s FROM feat WHERE doc_id % 2 = 0
    ), cmh AS (
        SELECT doc_id, {mh_cols} FROM ce GROUP BY doc_id
    ), corpus AS (
        SELECT DISTINCT band, sig FROM ({corpus_bands})
    ), ne AS (
        SELECT doc_id, unnest(shingles) AS s FROM feat WHERE doc_id % 2 = 1
    ), nmh AS (
        SELECT doc_id, {mh_cols} FROM ne GROUP BY doc_id
    ), nbands AS (
        {new_bands}
    ), hits AS (
        SELECT DISTINCT b.doc_id
        FROM nbands b JOIN corpus c ON b.band = c.band AND b.sig = c.sig
    ), staged AS (
        SELECT f.lang,
               CASE WHEN h.doc_id IS NOT NULL THEN 'dup'
                    WHEN f.n_words < {GATE_MIN_WORDS} THEN 'too_short'
                    WHEN f.n_distinct * {GATE_DISTINCT_DEN}
                         < {GATE_DISTINCT_NUM} * f.n_words THEN 'repetitive'
                    ELSE 'keep' END AS stage,
               f.n_chars, f.doc_id
        FROM feat f LEFT JOIN hits h USING (doc_id)
        WHERE f.doc_id % 2 = 1
    )
    SELECT lang, stage,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(doc_id) AS BIGINT) AS id_checksum
    FROM staged GROUP BY lang, stage
"""


@declared("q_stream_pipeline", cache_plan=False, oracle=_stream_pipeline_oracle())
def q_stream_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A MULTI-OPERATOR ingest pipeline in ONE streaming drain (VERDICT r7
    Next-round #7): dedup-at-ingest -> quality gate -> admission scorecard,
    chained inside a single availableNow query over 4 REAL micro-batches
    (doc_id-ordered staged slices, maxFilesPerTrigger=1). New documents
    (odd doc_ids) are min-hash banded in-flight, probed against the static
    persistent (band, sig) corpus index (even doc_ids) via four per-band
    broadcast stream-static LEFT joins, routed to a stage verdict ('dup' on
    any band collision, else the q_stream_quality_gate rules: 'too_short' /
    'repetitive' / 'keep'), and accumulated into a per-(lang, stage)
    scorecard whose aggregate state carries ACROSS the micro-batches
    (complete mode). The oracle replays the whole pipeline in batch SQL —
    the stream/batch parity contract for the fused pipeline, not just its
    stages in isolation.

    The LSH probe is expressed WITHOUT a mid-stream aggregate: each band's
    signature is a per-row column (concat of two min-hash hex strings — a
    narrow expression), so admission is N_BANDS stream-static joins plus a
    null-coalesce, and the ONLY stateful operator is the final bounded
    aggregate (streams may chain at most one aggregation outside
    append+watermark mode — this shape is how a production pipeline fuses
    a probe into a stateful stream legally). Docs too short to shingle
    (< 3 words) carry NULL band signatures, which no equi-join matches on
    either engine — they pass the dedup stage and land in 'too_short'.

    Scale notes (100 TB/day ingest): banding is per-row JVM work (split /
    zip_with slices / md5 — no Python); the index ships as a broadcast per
    band (or co-locates via (band, sig) bucketing once it outgrows
    broadcast); aggregate state is O(langs x 4 stages) regardless of
    corpus size; admitted docs could route onward append-mode from the
    same query (foreachBatch), with survivor bands unioned back into the
    index exactly as q_dedup_incr's dedup_incremental returns them."""
    from ..streaming.ner_stream import stream_documents_sliced
    from .dedup import N_BANDS, minhash_bands, minhash_cols
    from .textprep import shingles_expr, words_col
    from .textstats import GATE_DISTINCT_DEN, GATE_DISTINCT_NUM, GATE_MIN_WORDS

    corpus = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("doc_id") % 2 == 0
    )
    idx = minhash_bands(corpus).select("band", "sig").distinct()
    per_band_idx = [
        idx.filter(F.col("band") == b)
        .select(F.col("sig").alias(f"sig{b}"))
        .withColumn(f"hit{b}", F.lit(1))
        for b in range(N_BANDS)
    ]

    new_docs = stream_documents_sliced(spark, sf_dir).filter(
        F.col("doc_id") % 2 == 1
    )
    feat = new_docs.select(
        "doc_id", "lang", "n_chars", words_col("text").alias("ws")
    ).select(
        "doc_id", "lang", "n_chars",
        F.size("ws").alias("n_words"),
        F.size(F.array_distinct("ws")).alias("n_distinct"),
        shingles_expr().alias("shingles"),
    )
    sigd = feat.select(
        "doc_id", "lang", "n_chars", "n_words", "n_distinct",
        *minhash_cols(),
    )
    probed = sigd.select(
        "doc_id", "lang", "n_chars", "n_words", "n_distinct",
        *[
            F.concat(F.col(f"h{2 * b}"), F.col(f"h{2 * b + 1}")).alias(f"sig{b}")
            for b in range(N_BANDS)
        ],
    )
    for b in range(N_BANDS):
        probed = probed.join(F.broadcast(per_band_idx[b]), [f"sig{b}"], "left")
    stage = (
        F.when(
            F.coalesce(*[F.col(f"hit{b}") for b in range(N_BANDS)]).isNotNull(),
            "dup",
        )
        .when(F.col("n_words") < GATE_MIN_WORDS, "too_short")
        .when(
            F.col("n_distinct") * GATE_DISTINCT_DEN
            < GATE_DISTINCT_NUM * F.col("n_words"),
            "repetitive",
        )
        .otherwise("keep")
    )
    scorecard = probed.select("lang", stage.alias("stage"), "n_chars", "doc_id").groupBy(
        "lang", "stage"
    ).agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.sum("doc_id").cast("bigint").alias("id_checksum"),
    )
    sink = drain_to_memory(scorecard, "complete")
    return sink.select(
        "lang", "stage", "n_docs", "total_chars", "id_checksum"
    )


def _stream_index_growth_oracle() -> str:
    from .dedup import N_BANDS, N_HASHES
    from .textprep import sql_shingles

    mh_cols = ", ".join(
        f"MIN(md5('s{k}|' || s)) AS h{k}" for k in range(N_HASHES)
    )
    band_union = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, h{2 * b} || h{2 * b + 1} AS sig FROM mh"
        for b in range(N_BANDS)
    )
    ctes = [f"""docs AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), sh AS (
        SELECT doc_id, {sql_shingles()} AS shingles FROM docs
    ), e AS (
        SELECT doc_id, unnest(shingles) AS s FROM sh
    ), mh AS (
        SELECT doc_id, {mh_cols} FROM e GROUP BY doc_id
    ), bands AS (
        {band_union}
    ), per AS (
        SELECT ((SELECT COUNT(*) FROM documents) + 3) // 4 AS p
    ), sl AS (
        SELECT b.doc_id, b.band, b.sig,
               b.doc_id // (SELECT p FROM per) AS slice
        FROM bands b WHERE b.doc_id % 2 = 1
    ), dslice AS (
        SELECT doc_id, doc_id // (SELECT p FROM per) AS slice
        FROM documents WHERE doc_id % 2 = 1
    ), idx0 AS (
        SELECT DISTINCT band, sig FROM bands WHERE doc_id % 2 = 0
    )"""]
    stats = []
    for i in range(4):
        j = i + 1
        ctes.append(f"""hit{j} AS (
        SELECT DISTINCT s.doc_id FROM sl s
        JOIN idx{i} x ON s.band = x.band AND s.sig = x.sig
        WHERE s.slice = {i}
    ), adm{j} AS (
        SELECT doc_id FROM (SELECT DISTINCT doc_id FROM sl WHERE slice = {i})
        EXCEPT SELECT doc_id FROM hit{j}
    ), idx{j} AS (
        SELECT band, sig FROM idx{i}
        UNION
        SELECT s.band, s.sig FROM sl s JOIN adm{j} a USING (doc_id)
    )""")
        stats.append(f"""
    SELECT CAST({i} AS BIGINT) AS batch_id,
           CAST((SELECT COUNT(*) FROM dslice WHERE slice = {i}) AS BIGINT)
               AS n_docs,
           CAST((SELECT COUNT(DISTINCT doc_id) FROM sl WHERE slice = {i})
                AS BIGINT) AS n_banded,
           CAST((SELECT COUNT(*) FROM adm{j}) AS BIGINT) AS n_admitted,
           CAST((SELECT COALESCE(SUM(doc_id), 0) FROM adm{j}) AS BIGINT)
               AS admitted_id_sum,
           CAST((SELECT COUNT(*) FROM idx{j}) AS BIGINT) AS index_size""")
    return "WITH " + ", ".join(ctes) + " UNION ALL ".join(stats)


@declared(
    "q_stream_index_growth", cache_plan=False, oracle=_stream_index_growth_oracle()
)
def q_stream_index_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-at-ingest with a GROWING index — the missing half of
    q_stream_dedup_incr, which probes a STATIC corpus index: here each
    micro-batch's admitted documents have their LSH bands APPENDED to the
    index before the next batch probes it (foreachBatch), so a later
    stream document colliding with an EARLIER stream admission is
    rejected — within-stream dup detection, the actual front-door
    contract of a production crawl (dedup_incremental's survivor_bands
    union, executed live across 4 real doc_id-ordered micro-batches).
    Emits the per-batch admission ledger (docs seen / banded / admitted,
    admitted id checksum, index size after append). The DuckDB oracle
    replays the sequential rounds as 4 unrolled CTEs over the exact slice
    rule the staged stream uses (doc_id // ceil(n/4) — file order IS
    doc_id order, asserted by the hash itself) — order-DEPENDENT
    streaming state, hash-verified end to end.

    Scale notes (100 TB/day): the per-batch probe is one equi-join of the
    batch's bands against the (band, sig)-keyed index (broadcast here;
    bucketed co-location once the index outgrows broadcast); the append
    is an idempotent distinct union — on Delta/Iceberg, a MERGE keyed on
    (band, sig); index lineage is truncated per batch (localCheckpoint —
    the connected-components idiom) so a long-running stream's plan does
    not grow; per-batch driver traffic is ONE summary row (the stats
    below), never data."""
    from ..streaming.ner_stream import stream_documents_sliced
    from .dedup import minhash_bands

    corpus_bands = (
        minhash_bands(
            spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
                F.col("doc_id") % 2 == 0
            )
        )
        .select("band", "sig")
        .distinct()
    )
    state = {"index": corpus_bands.persist()}
    rows: list[tuple] = []

    def per_batch(batch_df: DataFrame, epoch_id: int) -> None:
        odd = batch_df.filter(F.col("doc_id") % 2 == 1)
        n_docs = odd.count()
        nb = minhash_bands(odd).persist()
        banded = nb.select("doc_id").distinct()
        hits = (
            nb.join(F.broadcast(state["index"]), ["band", "sig"], "left_semi")
            .select("doc_id")
            .distinct()
        )
        admitted = banded.exceptAll(hits).persist()
        stats = admitted.agg(
            F.count("*").cast("bigint").alias("n_admitted"),
            F.coalesce(F.sum("doc_id"), F.lit(0)).cast("bigint").alias("id_sum"),
        ).collect()[0]
        new_index = (
            state["index"]
            .unionAll(
                nb.join(admitted, "doc_id", "left_semi").select("band", "sig")
            )
            .distinct()
            .localCheckpoint(eager=True)  # truncate per-batch lineage
        )
        state["index"] = new_index
        rows.append(
            (
                int(epoch_id),
                n_docs,
                banded.count(),
                int(stats.n_admitted),
                int(stats.id_sum),
                new_index.count(),
            )
        )
        nb.unpersist()
        admitted.unpersist()

    q = (
        stream_documents_sliced(spark, sf_dir)
        .writeStream.foreachBatch(per_batch)
        .trigger(availableNow=True)
        .start()
    )
    try:
        if not q.awaitTermination(300):
            raise TimeoutError("index-growth drain did not finish within 300s")
    finally:
        q.stop()
    return spark.createDataFrame(
        sorted(rows),
        "batch_id long, n_docs long, n_banded long, n_admitted long, "
        "admitted_id_sum long, index_size long",
    )


# ---------------------------------------------------------------------------
# q_stream_substring_incr — ExactSubstr admission AT INGEST, as a stream
# ---------------------------------------------------------------------------


def _stream_substring_incr_oracle() -> str:
    from .substring import SSD_K

    return f"""
    WITH c_w AS (
        SELECT DISTINCT substr(md5(substr(text, i::INT, {SSD_K})), 1, 16) AS h
        FROM (SELECT text, unnest(range(1, (n_chars - {SSD_K} + 2)::BIGINT))
                  AS i
              FROM documents WHERE doc_id % 2 = 0 AND n_chars >= {SSD_K})
    ), b_w AS (
        SELECT doc_id, i,
               substr(md5(substr(text, i::INT, {SSD_K})), 1, 16) AS h
        FROM (SELECT doc_id, text,
                     unnest(range(1, (n_chars - {SSD_K} + 2)::BIGINT)) AS i
              FROM documents WHERE doc_id % 2 = 1 AND n_chars >= {SSD_K})
    )
    SELECT b.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_windows,
           CAST(SUM(CASE WHEN c.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_windows,
           CASE WHEN 2 * SUM(CASE WHEN c.h IS NOT NULL THEN 1 ELSE 0 END)
                     >= COUNT(*)
                THEN 'reject' ELSE 'admit' END AS verdict
    FROM b_w b LEFT JOIN c_w c ON c.h = b.h
    GROUP BY b.doc_id
"""


@declared(
    "q_stream_substring_incr",
    cache_plan=False,
    oracle=_stream_substring_incr_oracle(),
)
def q_stream_substring_incr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr admission AT INGEST as a STREAM — the streaming twin of
    q_substring_incr, completing the family's front door exactly as
    q_stream_dedup_incr does for the MinHash gate: new documents (odd
    doc_ids) arrive in N_DOC_SLICES real micro-batches, each batch packs
    its 40-char windows map-side (stateless narrow transform — the
    q_substring_packed five-BIGINT content pack, no digest anywhere),
    probes the STATIC packed index of the ingested corpus (even doc_ids)
    via a broadcast stream-static left join, and the ONE stateful
    operator is the per-doc scorecard aggregate (window count + dup
    count accumulate across micro-batches in complete mode — a doc whose
    windows straddle a batch boundary is scored correctly only if the
    aggregate state carries over, which the sliced staging forces).

    The verdict here is WINDOW-share based (reject when >= half the
    windows already exist verbatim) rather than q_substring_incr's
    islands-merged char mass: an interval merge is a window function,
    which a streaming aggregate cannot host — the window-share rule is
    the streamable admission signal, and the oracle replays exactly it
    in batch SQL (stream == batch parity for the whole decision).

    Scale notes (100 TB): packing is per-row JVM codegen; the index is
    one row per distinct corpus window content — broadcast here, (key-
    bucketed stream-static join once it outgrows broadcast); per-doc
    state is two BIGINTs; admitted ids stream onward. Production appends
    admitted batches' distinct tuples back to the index per batch — the
    q_stream_index_growth foreachBatch pattern applies verbatim."""
    from ..streaming.ner_stream import stream_documents_sliced
    from .substring import packed_key_cols, packed_windows

    key_cols = packed_key_cols()
    corpus = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("doc_id") % 2 == 0
    )
    idx = (
        packed_windows(corpus)
        .select(*key_cols)
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    new_docs = stream_documents_sliced(spark, sf_dir).filter(
        F.col("doc_id") % 2 == 1
    )
    probe = packed_windows(new_docs).join(
        F.broadcast(idx), key_cols, "left"
    )
    score = (
        probe.groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_windows"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0)))
            .cast("bigint")
            .alias("n_dup_windows"),
        )
        .select(
            "doc_id",
            "n_windows",
            "n_dup_windows",
            F.expr(
                "CASE WHEN 2 * n_dup_windows >= n_windows"
                " THEN 'reject' ELSE 'admit' END"
            ).alias("verdict"),
        )
    )
    return drain_to_memory(score, "complete")


# --------------------------------------------------------------------------
# q_stream_bloom — the Bloom-filter admission gate AS A STREAM
# --------------------------------------------------------------------------


def _stream_bloom_oracle() -> str:
    """Batch replay of the streamed Bloom admission census — the
    q_bloom_dedup oracle verbatim (same filter, same probes, same
    verdicts): what the stream adds and what this gate therefore verifies
    END TO END is the streaming path itself (in-flight key hashing +
    position fan-out, stream-static broadcast probe, cross-batch
    aggregate state, complete-mode emission)."""
    from .sketches import BLOOM_DEDUP_ORACLE

    return BLOOM_DEDUP_ORACLE


@declared("q_stream_bloom", cache_plan=False, oracle=_stream_bloom_oracle())
def q_stream_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLOOM ADMISSION AT THE STREAMING FRONT DOOR — q_bloom_dedup's
    have-we-seen-this-template-before test run the way production runs
    it: the corpus filter is STATIC (even doc_ids' template-key positions,
    m = 8 bits/key, k = 4 — built once, broadcast), the ingest is a real
    multi-micro-batch stream (odd doc_ids, N_DOC_SLICES doc_id-ordered
    slices with maxFilesPerTrigger=1), each batch hashes its keys and
    fans out its k positions IN-FLIGHT (stateless narrow transforms — no
    stream-side shuffle before the probe), probes the broadcast filter
    with a stream-static left join, and the per-doc matched-position
    count is the ONE stateful operator (cross-batch aggregate state,
    complete mode). The per-source admission census (probes / maybes /
    true members / false positives / measured FPR) and the filter's fill
    factor are assembled on the drained sink and hash-verified against
    the batch oracle — exact stream==batch parity for the whole
    admission decision (the q_stream_dedup_incr contract, now for the
    cheaper pre-LSH gate that runs in front of it).

    Scale notes (100 TB): the filter is m/8 bytes as a bitmap (1
    byte/indexed key) broadcast once; the unbounded stream never
    shuffles before the probe and carries (doc_id, source, 32-hex, pos)
    only; per-doc state is one counter, evictable on emission in a
    production update-mode sink. m is resolved from the static index
    with one bounded O(1) driver exchange at plan-build time (the
    suffix-doubling bounded-exchange precedent) because a literal must
    parameterize the in-flight hash."""
    from ..streaming.ner_stream import stream_documents_sliced
    from .sketches import BLM_BPK, BLM_K, BLM_POS_SQL, BLM_PREFIX

    keyed_static = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") % 2 == 0)
        .select(
            F.md5(
                F.array_join(
                    F.slice(F.split("text", " "), 1, BLM_PREFIX), " "
                )
            ).alias("pk")
        )
    )
    # bounded O(1) exchange: the filter SIZE is a static-index scalar that
    # must appear as a literal inside the streaming expression
    m_bits = BLM_BPK * keyed_static.distinct().count()
    pos_expr = BLM_POS_SQL.format(m_bits=m_bits)
    filt = F.broadcast(
        keyed_static.select(
            "pk",
            F.explode(
                F.array(*[F.lit(j) for j in range(BLM_K)])
            ).alias("j"),
        )
        .select(F.expr(pos_expr).alias("f_pos"))
        .distinct()
    )
    truth = F.broadcast(
        keyed_static.distinct().select(F.col("pk").alias("t_pk"))
    )
    stream = (
        stream_documents_sliced(spark, sf_dir)
        .filter(F.col("doc_id") % 2 == 1)
        .select(
            "doc_id",
            "source",
            F.md5(
                F.array_join(
                    F.slice(F.split("text", " "), 1, BLM_PREFIX), " "
                )
            ).alias("pk"),
        )
        .select(
            "doc_id",
            "source",
            "pk",
            F.explode(
                F.array(*[F.lit(j) for j in range(BLM_K)])
            ).alias("j"),
        )
        .select("doc_id", "source", "pk", F.expr(pos_expr).alias("pos"))
    )
    probe = stream.join(filt, stream.pos == F.col("f_pos"), "left")
    perdoc = probe.groupBy("doc_id", "source", "pk").agg(
        F.count("f_pos").cast("bigint").alias("n_hit")
    )
    sink = drain_to_memory(perdoc, "complete")
    verdict = (
        sink.join(truth, F.col("pk") == F.col("t_pk"), "left")
        .select(
            "source",
            F.when(F.col("n_hit") == BLM_K, 1).otherwise(0).alias("maybe"),
            F.when(F.col("t_pk").isNotNull(), 1)
            .otherwise(0)
            .alias("is_member"),
        )
    )
    fill = filt.agg(F.count("*").cast("bigint").alias("n_bits_set")).select(
        "n_bits_set",
        F.expr(f"CAST(10000 * n_bits_set DIV {m_bits} AS BIGINT)").alias(
            "fill_bp"
        ),
    )
    return (
        verdict.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_probes"),
            F.sum("maybe").cast("bigint").alias("n_maybe"),
            F.sum("is_member").cast("bigint").alias("n_true"),
            F.sum(
                F.when((F.col("maybe") == 1) & (F.col("is_member") == 0), 1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("n_fp"),
        )
        .crossJoin(F.broadcast(fill))
        .select(
            "source",
            "n_probes",
            "n_maybe",
            "n_true",
            "n_fp",
            F.expr(
                "CAST(10000 * n_fp DIV GREATEST(n_probes - n_true, 1)"
                " AS BIGINT)"
            ).alias("fpr_bp"),
            "n_bits_set",
            "fill_bp",
        )
    )


# --------------------------------------------------------------------------
# q_stream_langid — language-ID inference at the streaming front door
# --------------------------------------------------------------------------


def _stream_langid_oracle() -> str:
    """Batch replay of the streamed language-ID census — the q_langid
    oracle verbatim (same model, same scoring, same confusion/agreement):
    what the stream adds and what this gate therefore verifies END TO END
    is the streaming path itself (in-flight tokenization + per-language
    fan-out against the broadcast model, cross-batch per-(doc, lang)
    score state, argmin + census on the drained sink)."""
    from .textstats import LANGID_ORACLE

    return LANGID_ORACLE


@declared("q_stream_langid", cache_plan=False, oracle=_stream_langid_oracle())
def q_stream_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LANGUAGE-ID AT THE STREAMING FRONT DOOR — q_langid's quantized-NB
    inference run the way production runs classification-at-ingest: the
    MODEL is STATIC (per-(lang, word) bit-length surprisal weights + the
    per-language unseen weight, trained on the even half — built once,
    broadcast), the ingest is a real multi-micro-batch stream (odd
    doc_ids, doc_id-ordered slices, maxFilesPerTrigger=1), each batch
    tokenizes IN-FLIGHT, fans out its tokens against the |langs|-row
    broadcast model (stateless narrow transforms — no stream-side shuffle
    before the score), and the per-(doc, lang) surprisal sum is the ONE
    stateful operator (cross-batch aggregate state, complete mode). The
    argmin, confusion matrix and per-language agreement are assembled on
    the drained sink and hash-verified against the batch oracle — exact
    stream==batch parity for the whole inference decision (the
    q_stream_bloom contract, for model inference instead of membership).

    Scale notes (100 TB): the model is vocab-sized (Heaps-bounded),
    broadcast once — the giant-stream x tiny-model pattern; the unbounded
    stream never shuffles before scoring and carries (doc_id, lang,
    weight) rows only; per-(doc, lang) state is one counter, evictable on
    emission in a production update-mode sink (|langs| counters per
    in-flight doc). Training is the batch side's one (lang, word)
    aggregate, refreshed offline like any model."""
    from ..streaming.ner_stream import stream_documents_sliced

    w_static = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") % 2 == 0)
        .select("lang", F.explode(F.split("text", " ")).alias("w"))
    )
    lt = w_static.groupBy("lang", "w").agg(
        F.count("*").cast("bigint").alias("c")
    )
    tl = lt.groupBy("lang").agg(F.sum("c").cast("bigint").alias("t"))
    vocab = lt.agg(F.countDistinct("w").cast("bigint").alias("v"))
    lw = F.broadcast(
        lt.join(tl, "lang")
        .crossJoin(vocab)
        .select(
            F.col("lang").alias("p_lang"),
            F.col("w").alias("p_w"),
            (F.length(F.bin(F.expr("(t + v) div (c + 1)"))) - 1)
            .cast("bigint")
            .alias("q"),
        )
    )
    unseen = F.broadcast(
        tl.crossJoin(vocab).select(
            F.col("lang").alias("u_lang"),
            (F.length(F.bin(F.expr("t + v"))) - 1)
            .cast("bigint")
            .alias("uq"),
        )
    )
    stream = (
        stream_documents_sliced(spark, sf_dir)
        .filter(F.col("doc_id") % 2 == 1)
        .select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .crossJoin(unseen)
        .join(
            lw,
            (F.col("p_lang") == F.col("u_lang"))
            & (F.col("p_w") == F.col("w")),
            "left",
        )
        .select(
            "doc_id",
            "u_lang",
            F.coalesce(F.col("q"), F.col("uq")).alias("wq"),
        )
    )
    surp = stream.groupBy("doc_id", "u_lang").agg(
        F.sum("wq").cast("bigint").alias("surp")
    )
    sink = drain_to_memory(surp, "complete")
    from pyspark.sql import Window

    pw = Window.partitionBy("doc_id").orderBy("surp", "u_lang")
    pred = (
        sink.withColumn("r", F.row_number().over(pw))
        .filter(F.col("r") == 1)
        .select("doc_id", F.col("u_lang").alias("pred"))
    )
    truth = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") % 2 == 1)
        .select("doc_id", "lang")
    )
    conf = (
        truth.join(pred, "doc_id")
        .groupBy("lang", "pred")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
    )
    agree = conf.groupBy(F.col("lang").alias("a_lang")).agg(
        F.sum("n_docs").cast("bigint").alias("lang_docs"),
        F.sum(
            F.when(F.col("lang") == F.col("pred"), F.col("n_docs")).otherwise(
                0
            )
        )
        .cast("bigint")
        .alias("n_correct"),
    ).select(
        "a_lang",
        "lang_docs",
        "n_correct",
        F.expr("CAST(10000 * n_correct DIV lang_docs AS BIGINT)").alias(
            "agree_bp"
        ),
    )
    return conf.join(F.broadcast(agree), conf.lang == F.col("a_lang")).select(
        "lang", "pred", "n_docs", "lang_docs", "n_correct", "agree_bp"
    )
