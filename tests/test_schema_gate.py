"""Registry schema gate: hash-declared queries must not ship complex columns.

VERDICT r11 #2: q_index_delta returned a raw ARRAY column and became the
first red driver row since r2 — the driver's canonicalizer sorts raw pandas
values and crashes on unhashable lists, and even where sorting survives,
Spark renders ``[46, 169, 220]`` while DuckDB's pandas bridge renders the
numpy form ``[ 46 169 220]``, so the value hash can never match.
``assert_hashable_schema`` (plans/registry.py) closes the hole; it is wired
into tools/selfcheck.py and tools/plan_audit.py so every hash-declared query
is gated every round. These tests pin the guard's behavior on deliberately
bad fixtures; tests/test_registry_sweep.py sweeps the live registry's hash
corpus.
"""

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def test_gate_trips_on_array_column(spark):
    from duckdb_ner_spark.plans.registry import assert_hashable_schema

    bad = spark.range(3).select(
        F.col("id"), F.array(F.lit(1), F.lit(2)).alias("xs")
    )
    with pytest.raises(TypeError, match="complex-typed column.*xs"):
        assert_hashable_schema(bad, "q_bad_fixture")


def test_gate_trips_on_map_and_struct(spark):
    from duckdb_ner_spark.plans.registry import assert_hashable_schema

    m = spark.range(1).select(
        F.create_map(F.lit("k"), F.lit(1)).alias("m")
    )
    with pytest.raises(TypeError, match="q_bad_map"):
        assert_hashable_schema(m, "q_bad_map")
    s = spark.range(1).select(F.struct(F.lit(1).alias("a")).alias("st"))
    with pytest.raises(TypeError, match="q_bad_struct"):
        assert_hashable_schema(s, "q_bad_struct")


def test_gate_passes_scalar_schema(spark):
    from duckdb_ner_spark.plans.registry import assert_hashable_schema

    ok = spark.range(3).select(
        F.col("id"),
        F.lit("a,b,c").alias("serialized"),
        F.lit(1.5).alias("x"),
    )
    assert_hashable_schema(ok, "q_ok")  # must not raise


def test_index_delta_is_string_serialized(spark):
    """The r11 offender specifically: top_merged is now a CSV string."""
    import __spark_entry__ as entrymod

    df = entrymod.queries()["q_index_delta"](spark, SF_SMOKE)
    field = dict((f.name, f.dataType.simpleString()) for f in df.schema.fields)
    assert field["top_merged"] == "string"
