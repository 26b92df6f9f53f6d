"""Session memo and cache hygiene.

``memo`` is the one place the engine reuses a built DataFrame (or a bundle
of them) within a session: declared-query plans, catalog tables, and the
shared cores several queries read (the day-1 graph, propagated labels, the
IVF-PQ index, staged suffix and span tables). Building a DataFrame costs
Py4J round trips, analyzer work and, for the shared cores, whole jobs, so
a repeat call returns the identical object. An entry is served only when
all four of these match the call:

- the session object (identity), so a restarted or replaced session never
  serves another session's plan;
- ``sf_dir``;
- the ``spark.duckdb_ner.scanRepartition`` conf, the one session conf that
  changes the SHAPE of a built plan (a catalog-level repartition) rather
  than how it executes;
- the data stamp: ``(mtime_ns, size)`` of every ``{sf_dir}/{table}.parquet``
  in ``catalog.TABLES``, ``None`` for a missing file, so no entry serves a
  plan over a data file that was replaced. A changed stamp also refreshes
  Spark's cached blocks under ``sf_dir``, which match files by path.

Anything else rebuilds. Execution is never memoized: every action on a
served DataFrame re-optimizes and re-runs.

Release half: query builders persist() intermediates that feed several
branches of one plan, and they return LAZY DataFrames, so they cannot
unpersist before the caller has collected — a long-lived session running
the whole corpus accumulates cached blocks. Harnesses (selfcheck,
notebooks, any long-lived driver) call release_caches() BETWEEN queries.
Correctness is unaffected either way: persist() registers with Spark's
CacheManager, and an InMemoryRelation recomputes evicted blocks from
lineage on a miss. What release_caches() buys is deterministic storage
accounting — the sweep ends with ZERO persisted RDDs instead of relying on
LRU pressure."""

from __future__ import annotations

import functools
import os
from collections.abc import Callable, Hashable
from typing import TypeVar

from pyspark.sql import SparkSession

T = TypeVar("T")

SCAN_CONF = "spark.duckdb_ner.scanRepartition"

# (session, sf_dir, scan conf, key) -> (data stamp, value)
_MEMO: dict[tuple, tuple[tuple, object]] = {}


def _data_stamp(sf_dir: str) -> tuple:
    from ..sources.catalog import TABLES

    stamp = []
    for table in TABLES:
        try:
            st = os.stat(f"{sf_dir}/{table}.parquet")
        except FileNotFoundError:
            stamp.append(None)
        else:
            stamp.append((st.st_mtime_ns, st.st_size))
    return tuple(stamp)


def memo(
    spark: SparkSession, sf_dir: str, key: Hashable, build: Callable[[], T]
) -> T:
    """``build()``'s result for ``key``, reused while the session, sf_dir,
    scan conf and data stamp all match (see the module docstring)."""
    slot = (spark, sf_dir, spark.conf.get(SCAN_CONF, "0"), key)
    stamp = _data_stamp(sf_dir)
    hit = _MEMO.get(slot)
    if hit is not None:
        if hit[0] == stamp:
            return hit[1]  # type: ignore[return-value]
        # a table file changed under a memoized plan: Spark's CacheManager
        # matches a re-read file by path, so drop its blocks over sf_dir too
        spark.catalog.refreshByPath(sf_dir)
    value = build()
    _MEMO[slot] = (stamp, value)
    return value


def memoized(
    fn: Callable[[SparkSession, str], T],
) -> Callable[[SparkSession, str], T]:
    """``fn(spark, sf_dir)`` served through ``memo``, keyed on ``fn``."""

    @functools.wraps(fn)
    def wrapper(spark: SparkSession, sf_dir: str) -> T:
        return memo(spark, sf_dir, fn, lambda: fn(spark, sf_dir))

    return wrapper


def clear() -> None:
    """Forget every memo entry; the next call of each builder rebuilds."""
    _MEMO.clear()


def release_caches(spark: SparkSession) -> int:
    """Drop ALL executor-cached state this engine created; return how many
    persistent RDDs were released.

    Three layers, in dependency order:
    1. the memo (so nothing re-serves a plan that references blocks about
       to vanish — a memoized q_dedup_clusters plan holds a LogicalRDD over
       its final localCheckpoint, which CANNOT recompute once unpersisted;
       next use rebuilds from scratch),
    2. spark.catalog.clearCache() — every CacheManager entry (persist()ed
       DataFrames, cached tables),
    3. stray persistent RDDs left outside the CacheManager —
       localCheckpoint materializations whose Python references died but
       whose blocks await the ContextCleaner (connected_components rounds'
       final labels) — unpersisted directly via the JVM map.
    """
    clear()
    spark.catalog.clearCache()
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    n = 0
    for jrdd in list(jmap.values()):  # py4j exposes the java map dict-like
        jrdd.rdd().unpersist(False)
        n += 1
    return n


def persistent_rdd_count(spark: SparkSession) -> int:
    """How many RDDs currently hold persisted blocks (the VERDICT r6 #5
    done-criterion: a sweep must end at 0 after release_caches)."""
    return spark.sparkContext._jsc.getPersistentRDDs().size()
