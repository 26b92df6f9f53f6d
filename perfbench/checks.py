"""Correctness checks run inside every benchmark run, outside the timed region.

SQL results are compared with the query's DuckDB oracle using the repo's own
differential-gate rules (``tools/selfcheck.py``: numeric dtype families,
row count, column names, then exact order-insensitive values). DuckDB is
only the oracle here; its timings are never reported.

``ner()`` results are compared with an in-process evaluation of the same
model on the same documents, through the package's public functions.
"""

from __future__ import annotations

import os
import pickle

import duckdb

from duckdb_ner_spark.sources.catalog import TABLES
from tools.selfcheck import dtype_mismatches, normalize

_ORACLE_CACHE = "_oracle.pkl"


def oracle_results(data_dir: str, oracles: dict[str, str]) -> dict[str, tuple]:
    """``{query: (oracle frame, normalized rows)}``, each SQL text run by
    DuckDB over the parquet files under ``data_dir``.

    The tables there never change once written, so results are kept beside
    them, keyed by DuckDB version and SQL text. Running and normalizing the
    16 oracles takes about 7 s on a 4-core host, a tenth of a ``sql_mixed``
    run, and every run of a comparison would pay it again."""
    path = os.path.join(data_dir, _ORACLE_CACHE)
    cached: dict[tuple[str, str], tuple] = {}
    if os.path.isfile(path):
        with open(path, "rb") as f:
            cached = pickle.load(f)
    keys = {name: (duckdb.__version__, sql) for name, sql in oracles.items()}
    missing = [name for name, key in keys.items() if key not in cached]
    if missing:
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
            for name in missing:
                odf = con.execute(oracles[name]).df()
                cached[keys[name]] = (odf, normalize(odf))
        finally:
            con.close()
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            pickle.dump(cached, f)
        os.replace(tmp, path)
    return {name: cached[key] for name, key in keys.items()}


def sql_mismatch(sdf, oracle: tuple) -> str | None:
    """None when the Spark frame matches the oracle, else the first reason."""
    odf, o_rows = oracle
    bad = dtype_mismatches(sdf, odf)
    if bad:
        return f"numeric dtype kind differs: {bad}"
    if len(sdf) != len(odf):
        return f"row count spark={len(sdf)} duckdb={len(odf)}"
    if sorted(sdf.columns) != sorted(odf.columns):
        return f"columns spark={sorted(sdf.columns)} duckdb={sorted(odf.columns)}"
    if normalize(sdf) != o_rows:
        return "values differ"
    return None


def reference_entities(model, texts: list[str]) -> list[list[tuple[str, str]]]:
    """In-process ``ner()`` semantics for non-null texts with truncation on:
    tokenize, one batched forward pass, BIO decode."""
    from duckdb_ner_spark.ner.decode import decode_entities
    from duckdb_ner_spark.ner.tokenizer import tokenize

    tokens = [tokenize(model.vocab, t, model.n_max_tokens) for t in texts]
    if hasattr(model, "eval_tokens_batch"):
        logits = model.eval_tokens_batch(tokens)
    else:
        logits = [model.eval_tokens(t) for t in tokens]
    return [decode_entities(t, lg, model.vocab.id_to_token) for t, lg in zip(tokens, logits)]


def spark_entities(value) -> list[tuple[str, str]]:
    """One collected ``ner()`` cell (list of entity/label structs) as tuples."""
    return [(e["entity"], e["label"]) for e in value]
