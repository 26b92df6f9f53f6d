"""Full-registry audits over ONE build of every declared query at sf0.001.

Plan construction only — no query is executed, but many builders run
staging or persist jobs while building, so a registry walk costs minutes.
The module-scoped ``registry_facts`` fixture walks it once and records each
query's facts right after building it: its analyzed schema and its global
(partition-less) windows. Recording before the next build matters:
``optimizedPlan`` is lazy, and computed after later builders persist
identical subtrees, Spark's CacheManager may substitute them and change the
plan text. The three audits below assert over the recorded facts:

- the schema gate (hash-declared queries ship no complex columns),
- the global-window ledger,
- the oracle numeric dtype-kind audit.
"""

from dataclasses import dataclass

import pytest
from pyspark.sql.types import StructType

from tests.conftest import SF_SMOKE


@dataclass(frozen=True)
class QueryFacts:
    schema: StructType  # all that plans/registry.assert_hashable_schema reads
    global_windows: list[str]


@pytest.fixture(scope="module")
def registry_facts(spark) -> dict[str, QueryFacts]:
    import __spark_entry__ as e
    from duckdb_ner_spark.plans import cachereg
    from duckdb_ner_spark.plans.inspect import global_windows

    cachereg.clear()
    qs = e.queries()
    facts = {}
    for name in sorted(qs):
        df = qs[name](spark, SF_SMOKE)
        facts[name] = QueryFacts(df.schema, global_windows(df))
    return facts


def test_no_hash_query_ships_complex_columns(registry_facts):
    """Full-corpus sweep: every hash-declared query's schema passes the gate.
    This is the pytest half of the selfcheck/plan_audit enforcement (the
    gate's own behavior is pinned in tests/test_schema_gate.py)."""
    import __spark_entry__ as entrymod
    from duckdb_ner_spark.plans.registry import assert_hashable_schema

    oracles = entrymod.oracle_sql()
    bad = []
    for name in sorted(oracles):
        try:
            assert_hashable_schema(registry_facts[name], name)
        except TypeError as exc:
            bad.append(str(exc))
    assert not bad, "\n".join(bad)


def test_global_window_ledger(registry_facts):
    """EXACT accounting of every partition-less WindowExec in the registry
    (VERDICT r6 #4): each global window serializes its input through one
    task, so each one must be NAMED here with the bounded table it runs
    over — a new query sneaking a corpus-sized global window in (or a plan
    change adding one to an existing query) fails this test instead of
    hiding in tolerated log noise."""
    # query -> (count, the bounded input each global window runs over)
    LEDGER = {
        "q_compaction_plan": (1, "running sum over per-chunk totals (#chunks rows)"),
        "q_cte": (1, "rank over the TakeOrdered top-20 customers"),
        "q_histogram": (1, "cumulative sum over the fixed bucket table"),
        "q_rrf_fusion": (2, "ranks over the two TakeOrdered RRF_LIST lists"),
        "q_sim_ivf": (
            3,
            "output rank over <=IVF_TOPK rows + two stride-seeding "
            "row_numbers over the <=N_IVF_CELLS centroid limit",
        ),
        "q_skew_audit": (1, "rank inside the TakeOrdered SKEW_TOP_K heap"),
        "q_skyline": (
            1,
            "running max over the <=(price-domain/SKYLINE_BUCKET_CENTS) "
            "bucket-summary rows",
        ),
        "q_ivf_incr": (
            1,
            "stride-seeding row_number over the <=IVFI_CELLS centroid limit",
        ),
        "q_vocab_coverage": (1, "prefix sum over the <=64-row bit-length band table"),
        "q_wsample_priority": (
            3,
            "one linear chain over the TakeOrdered top-(WS_K+1) rows: "
            "rank + tau(MIN) + estimator-total(SUM)",
        ),
        "q_zipf_slope": (1, "rank over the TakeOrdered ZIPF_TOP=64 words"),
        # q_batch_padding left this ledger in r13: its arrival batcher now
        # partitions by a BP_SHARD-doc shard key (VERDICT r12 #2), so NO
        # query ships a corpus-sized global window any more — every entry
        # above runs over a TakeOrdered/limit-bounded or constant-sized
        # frame.
    }

    actual = {n: len(f.global_windows) for n, f in registry_facts.items() if f.global_windows}

    expected = {n: c for n, (c, _why) in LEDGER.items()}
    unexpected = {n: c for n, c in actual.items() if n not in expected}
    assert not unexpected, (
        f"UNLEDGERED global windows {unexpected}: every partition-less "
        "window must be added to LEDGER with the bounded table it runs over "
        "— or repartitioned/TakeOrdered away"
    )
    assert actual == expected, (
        f"global-window counts drifted: actual={actual} expected={expected}"
    )


def test_oracle_numeric_dtype_kinds_full_registry(registry_facts, oracle_con):
    """Driver-hash-faithful TYPE audit over the FULL oracle registry
    (VERDICT r3 #5): the r3 red rows were numerically equal but
    hash-different because DuckDB returned HUGEINT (pandas float64) where
    Spark returned LONG — a class tools/selfcheck.py's value-coercing
    comparison could not see. This test makes the class unlandable: for
    every declared oracle pair, the numeric family (int/float/bool/decimal)
    of each output column must agree between the Spark analyzed schema
    (pure driver-side — no job runs) and the DuckDB LIMIT-0 result frame
    (type mapping only — no rows scanned). Streaming queries are excluded
    (covered by the driver gate and tests/test_streaming.py)."""
    import pyspark.sql.types as T

    import __spark_entry__ as e
    from tools.selfcheck import _numeric_kind

    def spark_kind(dt):
        if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
            return "int"
        if isinstance(dt, (T.FloatType, T.DoubleType)):
            return "float"
        if isinstance(dt, T.BooleanType):
            return "bool"
        if isinstance(dt, T.DecimalType):
            return "decimal"
        return None

    bad = []
    for name, sql in e.oracle_sql().items():
        if name.startswith("q_stream_"):
            continue
        odf = oracle_con.execute(f"SELECT * FROM ({sql}) _q LIMIT 0").df()
        skinds = {f.name: spark_kind(f.dataType) for f in registry_facts[name].schema.fields}
        for c in odf.columns:
            sk, ok = skinds.get(c), _numeric_kind(odf[c])
            if sk is not None and ok is not None and sk != ok:
                bad.append((name, c, sk, ok))
    assert not bad, f"numeric dtype-kind mismatches (driver hash would differ): {bad}"
