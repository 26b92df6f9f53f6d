"""Custom stateful streaming operator via applyInPandasWithState
(SURVEY.md §2.E future-work surface; the Spark-native mechanism for operators
the built-in windowed aggregations can't express).

``running_user_stats``: per-user running (count, total value, max ts) that
updates every micro-batch and emits the current state — an arbitrary-state
operator (the built-in alternative would force a window/watermark shape).

Scale notes: state is partitioned by the grouping key across executors and
checkpointed by the streaming engine; a production run sets a TTL timeout
(GroupStateTimeout) to bound state for dead keys. Arrow batches in/out —
same process boundary economics as the NER UDF.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

STATE_SCHEMA = StructType(
    [
        StructField("n", LongType()),
        StructField("total", DoubleType()),
        # epoch micros: the running max must live IN the state — late events
        # in a later micro-batch must not move last_ts backwards
        StructField("last_ts_us", LongType()),
    ]
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
        StructField("last_ts", TimestampType()),
    ]
)


def _update(key, pdfs, state: GroupState):
    (user_id,) = key
    n, total, last_us = state.get if state.exists else (0, 0.0, 0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
        mx = pdf["ts"].max()
        if pd.notna(mx):
            last_us = max(last_us, int(mx.value // 1000))
    state.update((n, total, last_us))
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "n_events": [n],
            "total_value": [round(total, 2)],
            "last_ts": [pd.Timestamp(last_us * 1000) if last_us else pd.NaT],
        }
    )


def running_user_stats(events: DataFrame) -> DataFrame:
    """events (streaming, cols user_id/ts/value) → running per-user stats."""
    return events.groupBy("user_id").applyInPandasWithState(
        _update,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --------------------------------------------------------------------------
# Streaming CUSUM (q_cusum's recursion as cross-batch per-key state)
# --------------------------------------------------------------------------

CUSUM_STATE_SCHEMA = StructType(
    [
        StructField("s", LongType()),  # current CUSUM value (cents)
        StructField("best", LongType()),  # max excursion so far
        StructField("at_event_id", LongType()),  # min event_id at the max
        StructField("n", LongType()),
    ]
)

CUSUM_OUTPUT_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("n_events", LongType()),
        StructField("max_cusum", LongType()),
        StructField("at_event_id", LongType()),
        StructField("alarm", LongType()),
    ]
)


def running_cusum(events: DataFrame, k_cents: int, h_cents: int) -> DataFrame:
    """Per-event-type streaming CUSUM: the recursion
    s = max(0, s + cents - k) folded row by row in (ts, event_id) order
    within each micro-batch, with (s, best, argmin-id-at-best, n) carried
    as cross-batch state — the ingest-time twin of the batch q_cusum
    (operators/stats.py), whose prefix-min closed form this recursion
    must equal exactly (pinned by tests; the staged file source replays
    in event-time order, so cross-batch order matches the batch sort).

    Scale notes: state is four BIGINTs per key regardless of stream
    length; the alarm could route to an append-mode side output the
    moment best first crosses h_cents.

    Cents are quantized IN THE STREAM PLAN (JVM-side
    ROUND(value*100)::BIGINT below) so the stream and the batch
    q_cusum evaluate the IDENTICAL rounding op on the double product —
    a Python-side Decimal HALF_UP re-round can disagree with SQL ROUND
    for non-cent inputs like 0.145 (ADVICE r7 #1)."""

    def _update(key, pdfs, state: GroupState):
        (event_type,) = key
        s, best, at, n = state.get if state.exists else (0, 0, None, 0)
        pdf = pd.concat(list(pdfs), ignore_index=True)
        if len(pdf):
            pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
            for _, row in pdf.iterrows():
                cents = int(row["cents"])
                s = max(0, s + cents - k_cents)
                eid = int(row["event_id"])
                if s > best:
                    best, at = s, eid
                elif s == best and at is not None:
                    at = min(at, eid)
                if at is None:  # all-zero path: peak at the first event
                    at = eid
                n += 1
        state.update((s, best, at, n))
        yield pd.DataFrame(
            {
                "event_type": [event_type],
                "n_events": [n],
                "max_cusum": [best],
                "at_event_id": [at],
                "alarm": [1 if best > h_cents else 0],
            }
        )

    quantized = events.withColumn(
        "cents", F.round(F.col("value") * 100).cast("bigint")
    ).drop("value")
    return quantized.groupBy("event_type").applyInPandasWithState(
        _update,
        outputStructType=CUSUM_OUTPUT_SCHEMA,
        stateStructType=CUSUM_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
