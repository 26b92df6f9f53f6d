"""Golden SQL-logic tests: 1:1 port of /root/reference/test/sql/ner.test
(FIXTURES.md §2). These pin the reference's *observable* API behavior."""

import os

import pytest
from pyspark.sql.utils import AnalysisException

from duckdb_ner_spark.session import CONF_MODEL_PATH, CONF_TRUNCATE

STUB = os.path.join(os.path.dirname(__file__), "fixtures", "stub_model.json")


def test_case1_missing_function_before_registration(spark):
    """ner.test:6-9 — calling ner() before the extension is loaded is a
    catalog error. newSession() has a fresh function registry."""
    fresh = spark.newSession()
    with pytest.raises(AnalysisException):
        fresh.sql("SELECT ner('Sam')").collect()


def test_case2_default_no_model_returns_empty(engine):
    """ner.test:21-24 — no model configured → [] (empty array, not NULL)."""
    engine.set_model_path(None)
    row = engine.spark.sql("SELECT ner('DuckDB is great') AS e").collect()[0]
    assert row.e == []


def test_case3_ner_extract_alias(engine):
    """ner.test:27-30 — ner_extract ≡ ner."""
    engine.set_model_path(None)
    row = engine.spark.sql("SELECT ner_extract('DuckDB is great') AS e").collect()[0]
    assert row.e == []


def test_case4_truncate_arg_plumbing(engine):
    """ner.test:33-36 — 2-arg overload accepted."""
    engine.set_model_path(None)
    row = engine.spark.sql("SELECT ner('DuckDB', true) AS e").collect()[0]
    assert row.e == []


def test_case5_null_in_null_out(engine):
    """src/ner_extension.cpp:101-103."""
    engine.set_model_path(None)
    row = engine.spark.sql("SELECT ner(CAST(NULL AS STRING)) AS e").collect()[0]
    assert row.e is None
    # and with a model loaded too
    engine.set_model_path(STUB)
    row = engine.spark.sql("SELECT ner(CAST(NULL AS STRING)) AS e").collect()[0]
    assert row.e is None
    engine.set_model_path(None)


def test_case6_bad_model_path_silent_fallback(engine):
    """ner.test:39-51 — SET to nonexistent path succeeds; ner() → []."""
    engine.set_model_path("/tmp/non_existent_model.bin")
    row = engine.spark.sql("SELECT ner('Sam lives in Amsterdam') AS e").collect()[0]
    assert row.e == []
    engine.set_model_path(None)


def test_case7_settings_introspection(engine):
    """ner.test:15-18, 42-45 — settings view shows NULL before SET, the
    path string after. Exactly the reference's two settings are listed."""
    engine.set_model_path(None)
    vals = dict(engine.settings().collect())
    assert sorted(vals) == sorted([CONF_MODEL_PATH, CONF_TRUNCATE])
    assert vals[CONF_MODEL_PATH] is None
    engine.set_model_path("/tmp/non_existent_model.bin")
    vals = dict(engine.settings().collect())
    assert vals[CONF_MODEL_PATH] == "/tmp/non_existent_model.bin"
    engine.set_model_path(None)


def test_case8_truncate_false_overflow_errors(engine):
    """src/ner_extension.cpp:112-115 — with a model loaded, truncate=false
    and ≥ n_max_tokens → error mentioning the token limit."""
    engine.set_model_path(STUB)
    long_text = " ".join(["new"] * 600)
    with pytest.raises(Exception, match="token limit"):
        engine.spark.sql(f"SELECT ner('{long_text}', false) AS e").collect()
    engine.set_model_path(None)


def test_case9_truncate_default_silently_truncates(engine):
    """src/ner_extension.cpp:53, 128-130 — default truncate=true: no error."""
    engine.set_model_path(STUB)
    long_text = " ".join(["new"] * 600)
    rows = engine.spark.sql(f"SELECT ner('{long_text}') AS e").collect()
    assert rows[0].e is not None
    engine.set_model_path(None)


def test_stub_model_end_to_end_entities(engine):
    """Hermetic accuracy test (stronger than the reference's suite,
    SURVEY.md §5.2 #4): stub model → real entities through SQL."""
    engine.set_model_path(STUB)
    row = engine.spark.sql("SELECT ner('sam is in new york') AS e").collect()[0]
    got = [(e.entity, e.label) for e in row.e]
    assert got == [("sam", "PER"), ("new york", "LOC")]
    row = engine.spark.sql("SELECT ner('duckdb labs') AS e").collect()[0]
    got = [(e.entity, e.label) for e in row.e]
    assert got == [("duckdb labs", "ORG")]
    engine.set_model_path(None)


def test_dataframe_api_ner(engine):
    """A1 via the DataFrame API path."""
    from duckdb_ner_spark.functions.ner_udf import ner

    engine.set_model_path(STUB)
    spark = engine.spark
    df = spark.createDataFrame([("sam",), (None,), ("amsterdam",)], ["text"])
    out = df.select(ner(spark, df.text).alias("e")).collect()
    assert [(e.entity, e.label) for e in out[0].e] == [("sam", "PER")]
    assert out[1].e is None
    assert [(e.entity, e.label) for e in out[2].e] == [("amsterdam", "LOC")]
    engine.set_model_path(None)
