"""duckdb_ner_spark — a PySpark-native engine with the query and
data-processing capabilities of the reference (nshiab/duckdb-NER: a DuckDB
host engine + an NER extension; see SURVEY.md §0).

Layering:
- ``session``    — SparkSession factory with pinned engine defaults
- ``sources``    — parquet catalog over the star schema
- ``operators``  — Tier C relational corpus, as-of join, Tier D pipeline ops
- ``functions``  — ner()/ner_extract() Arrow UDF + text-analysis functions
- ``ner``        — tokenizer / BIO-decode / model backend (ports of the
                   reference's src/ner_model.cpp + src/ner_extension.cpp)
- ``plans``      — declared-query registry + dialect helpers
- ``streaming``  — Structured Streaming over the events table
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from .session import CONF_MODEL_PATH, CONF_TRUNCATE, get_spark  # noqa: F401

__all__ = [
    "NerEngine",
    "get_spark",
    "CONF_MODEL_PATH",
    "CONF_TRUNCATE",
    # operator library (lazy imports below keep engine startup light)
    "asof_join",
    "dedup_exact",
    "dedup_near_minhash",
    "simhash64",
    "simhash_near_pairs",
    "connected_components",
    "collapse_near_dups",
    "topk_cosine",
    "ann_pairs",
    "ivf_topk",
    "cosine_pairs_exploded",
    "salted_agg_sum",
    "zscore_per_user",
]


def __getattr__(name: str):
    # lazy re-exports: importing duckdb_ner_spark must not drag in every
    # operator module (pyspark import cost) until a symbol is touched
    _HOMES = {
        "asof_join": "duckdb_ner_spark.operators.asof",
        "dedup_exact": "duckdb_ner_spark.operators.dedup",
        "dedup_near_minhash": "duckdb_ner_spark.operators.dedup",
        "simhash64": "duckdb_ner_spark.operators.dedup",
        "simhash_near_pairs": "duckdb_ner_spark.operators.dedup",
        "connected_components": "duckdb_ner_spark.operators.components",
        "collapse_near_dups": "duckdb_ner_spark.operators.components",
        "topk_cosine": "duckdb_ner_spark.operators.similarity",
        "ann_pairs": "duckdb_ner_spark.operators.similarity",
        "ivf_topk": "duckdb_ner_spark.operators.similarity",
        "cosine_pairs_exploded": "duckdb_ner_spark.operators.similarity",
        "salted_agg_sum": "duckdb_ner_spark.plans.skew",
        "zscore_per_user": "duckdb_ner_spark.functions.grouped",
    }
    if name in _HOMES:
        import importlib

        return getattr(importlib.import_module(_HOMES[name]), name)
    raise AttributeError(name)


class NerEngine:
    """Engine bootstrap — the analogue of ``LOAD ner``
    (/root/reference/src/ner_extension.cpp:188-218): registers the ner/
    ner_extract functions and (optionally) the testdata views on a session."""

    def __init__(self, spark: SparkSession | None = None):
        self.spark = spark or get_spark()
        self.register_all()

    def register_all(self) -> None:
        from .functions.ner_udf import register_ner_functions

        register_ner_functions(self.spark)

    def set_model_path(self, path: str | None) -> None:
        """``SET ner_model_path`` analogue (src/ner_extension.cpp:183-186,
        215-217): record the path and re-snapshot the registered UDFs. Like
        the reference, a bad path never errors here — executors fall back to
        the empty-result stub on first use (test/sql/ner.test:39-51)."""
        if path is None:
            self.spark.conf.unset(CONF_MODEL_PATH)
        else:
            self.spark.conf.set(CONF_MODEL_PATH, path)
        self.register_all()

    def set_model_broadcast(self, path: str) -> None:
        """Ship the model to executors via a SparkContext broadcast of the
        file bytes — the distribution path for clusters where executors
        can't read the driver's filesystem. Weights transfer once per
        executor (BitTorrent-style), then cache in the worker process."""
        from .functions.ner_udf import register_ner_functions

        with open(path, "rb") as f:
            bc = self.spark.sparkContext.broadcast(f.read())
        register_ner_functions(self.spark, broadcast=bc)

    def register_views(self, sf_dir: str) -> None:
        from .sources.catalog import register_views

        register_views(self.spark, sf_dir)

    def settings(self):
        """Introspection analogue of DuckDB's duckdb_settings()
        (/root/reference/test/sql/ner.test:15-18)."""
        rows = [
            (key, self.spark.conf.get(key, None))
            for key in (CONF_MODEL_PATH, CONF_TRUNCATE)
        ]
        return self.spark.createDataFrame(rows, ["name", "value"])
