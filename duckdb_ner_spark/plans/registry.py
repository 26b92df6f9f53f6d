"""Declared-query registry: the parity corpus contract.

Every operator this engine claims is declared here twice: a Spark DataFrame
builder (``QUERIES[name]``) and, where ANSI-SQL-expressible, a DuckDB oracle
string (``ORACLES[name]``). The driver hash-compares the two at sf0.01
(SURVEY.md §5.2). Column names/aliases MUST match pairwise — the comparison
sorts columns by name before hashing.

Plan reuse: re-invoking a declared query returns the previously built
DataFrame — the Spark analogue of a prepared statement — through the one
session memo (plans/cachereg.py), which serves it only while the session,
sf_dir, scan conf and data-file stamp all match. Building a DataFrame costs
Py4J round trips plus analyzer work on the driver (measured 40-250 ms per
headline query, tools/bench_profile.py) and is driver-only and
data-size-independent, so re-paying it per invocation is pure overhead.
Execution is NOT reused: each action on the returned DataFrame
re-optimizes (AQE re-plans) and re-runs. Queries whose build captures
mutable engine state (the NER family snapshots the model path into the UDF
at build, matching the reference's SET semantics) or whose builder performs
staging side effects that must re-run opt out with ``cache_plan=False``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from .cachereg import memoized

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def assert_hashable_schema(df: DataFrame, name: str) -> None:
    """Reject array/map/struct-typed OUTPUT columns in hash-declared queries.

    The driver's correctness canonicalizer sorts raw pandas values before
    hashing; a list-valued cell raises ``TypeError: unhashable type`` (the
    r11 q_index_delta failure — the first red driver row since r2), and
    even when sorting survives, Spark renders ``[46, 169, 220]`` while
    DuckDB's pandas bridge renders the numpy form ``[ 46 169 220]``, so the
    value hash can never match. Complex results must be serialized in-plan
    (``array_join`` / ``to_json`` on the Spark side, ``array_to_string`` /
    ``to_json`` in the oracle). Enforced by tools/selfcheck.py and
    tools/plan_audit.py over every hash-declared query, every round."""
    from pyspark.sql import types as T

    bad = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
    ]
    if bad:
        raise TypeError(
            f"hash-declared query {name!r} returns complex-typed column(s) "
            f"{bad} — the driver canonicalizer cannot hash these; serialize "
            "to a string in-plan (array_join/to_json) on BOTH engine sides"
        )


def declared(
    name: str, oracle: str | None = None, cache_plan: bool = True
) -> Callable[[QueryFn], QueryFn]:
    """Register a declared query; ``oracle=None`` ⇒ rows-only check."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate declared query {name!r}")

        QUERIES[name] = memoized(fn) if cache_plan else fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco
