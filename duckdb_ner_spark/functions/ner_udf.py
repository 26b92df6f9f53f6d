"""``ner()`` / ``ner_extract()`` as one scalar Arrow UDF.

Spark-first re-expression of the reference's vectorized scalar function
(/root/reference/src/ner_extension.cpp:49-213):

- DataChunk → Arrow batch: the Arrow UDF receives ~2048-row ``pa.Array``
  batches (session pins ``spark.sql.execution.arrow.maxRecordsPerBatch``),
  the exact analogue of DuckDB's vector size (SURVEY.md §2.B B7).
- ``static global_state`` → per-EXECUTOR lazy model singleton
  (``_MODEL_CACHE``): global state cannot live on the driver; each Python
  worker process loads the model once on first batch (src/ner_extension.cpp:
  16-22, 63-66 analogue).
- ``SET ner_model_path`` → ``spark.conf.set("spark.ner.modelPath", ...)``;
  the conf value is snapshotted by ``session_ner_udf`` — the one place that
  reads the NER confs — when the UDF is built/registered (lazy, per-query)
  whereas DuckDB loads eagerly on the client thread — difference documented
  in SURVEY.md §3.2; observable behaviors (silent bad-path fallback,
  settings introspection) match the reference's tests.
- VOLATILE → ``asNondeterministic()`` (src/ner_extension.cpp:201-203): the
  result depends on session model state; Catalyst must not fold or re-order
  calls.
- null in → null out (:101-103); no model → ``[]`` per non-null row (:68-76);
  ``truncate`` read from ROW 0 of the batch only, default true (:53-61);
  ``truncate=false`` + token overflow → error (:112-115).

Scale notes (100 TB): model inference is embarrassingly parallel over rows —
throughput scales with executors; the model file must sit on shared storage
(or ship via ``spark.files``); per-executor memory = one model instance
(reference: 512 MB arena + 128 MB scratch; our stub ~KB). Rows are batched
through the model rather than the reference's per-row graph rebuild
(SURVEY.md §4.2 "notable inefficiency ... not copied").
"""

from __future__ import annotations

from typing import Optional

import pyarrow as pa
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import ArrayType, StringType, StructField, StructType

from ..ner.decode import decode_entities
from ..ner.model import load_model
from ..ner.tokenizer import tokenize
from ..session import CONF_MODEL_PATH, CONF_TRUNCATE

NER_RESULT_TYPE = ArrayType(
    StructType(
        [
            StructField("entity", StringType(), nullable=False),
            StructField("label", StringType(), nullable=False),
        ]
    )
)
_ARROW_RESULT_TYPE = to_arrow_type(NER_RESULT_TYPE)

# Per-worker-process model cache: key -> Backend | None (failed loads cached
# as None so a bad path stays a silent, cheap fallback — reference A9).
_MODEL_CACHE: dict[str, object] = {}


def _get_model(path: Optional[str], broadcast=None):
    if broadcast is not None:
        key = f"bc:{broadcast.id if hasattr(broadcast, 'id') else id(broadcast)}"
        if key not in _MODEL_CACHE:
            from ..ner.model import load_model_bytes

            _MODEL_CACHE[key] = load_model_bytes(broadcast.value)
        return _MODEL_CACHE[key]
    if not path:
        return None
    # cache keyed by (path, mtime, size): a file that appears or is replaced
    # after a failed/stale load is picked up on the next batch — matching the
    # reference's re-load-on-every-SET behavior (ner_extension.cpp:183-186).
    # A missing file is NOT negatively cached.
    import os

    try:
        st = os.stat(path)
        key = f"{path}:{st.st_mtime_ns}:{st.st_size}"
    except OSError:
        return None
    if key not in _MODEL_CACHE:
        _MODEL_CACHE[key] = load_model(path)
    return _MODEL_CACHE[key]


def _ner_batch(texts: list, model, truncate: bool) -> list:
    if model is None:
        return [None if v is None else [] for v in texts]

    n_max = model.n_max_tokens
    tokenized: list[list[int] | None] = []
    for v in texts:
        if v is None:
            tokenized.append(None)
            continue
        token_ids = tokenize(model.vocab, v, n_max)
        if not truncate and len(token_ids) >= n_max:
            raise ValueError("Input string exceeds model token limit and truncate=false")
        tokenized.append(token_ids)

    # Cross-row batching (the reference evaluates per row — its own noted
    # inefficiency, SURVEY.md §4.2): the backend evaluates every non-null row
    # of the batch in one call, bit-identical to per-row ``eval_tokens``.
    logits = iter(model.eval_tokens_batch([t for t in tokenized if t is not None]))
    out = []
    for token_ids in tokenized:
        if token_ids is None:
            out.append(None)
            continue
        ents = decode_entities(token_ids, next(logits), model.vocab.id_to_token)
        out.append([{"entity": e, "label": lb} for e, lb in ents])
    return out


def make_ner_udf(model_path: Optional[str], default_truncate: bool = True, broadcast=None):
    """Build the Arrow UDF for a fixed model path + default truncate. Pass
    ``broadcast`` (a SparkContext broadcast of the model file bytes) to ship
    weights via the torrent-style broadcast channel instead of shared FS."""

    def ner_fn(texts: pa.Array, truncate: pa.Array = None) -> pa.Array:
        trunc = default_truncate
        if truncate is not None and len(truncate) > 0 and truncate[0].is_valid:
            # reference reads row 0 of the chunk only (src/ner_extension.cpp:55-61)
            trunc = bool(truncate[0].as_py())
        model = _get_model(model_path, broadcast)
        return pa.array(_ner_batch(texts.to_pylist(), model, trunc), type=_ARROW_RESULT_TYPE)

    return arrow_udf(ner_fn, NER_RESULT_TYPE).asNondeterministic()


def session_ner_udf(spark: SparkSession, model_path: Optional[str] = None, broadcast=None):
    """The one conf snapshot: build the UDF from ``spark.ner.modelPath`` and
    ``spark.ner.truncate`` as they are NOW (per-query semantics, SURVEY.md
    §3.2). An explicit ``model_path`` or ``broadcast`` replaces the path conf."""
    if model_path is None and broadcast is None:
        model_path = spark.conf.get(CONF_MODEL_PATH, None)
    default_truncate = (spark.conf.get(CONF_TRUNCATE, "true") or "true").lower() == "true"
    return make_ner_udf(model_path, default_truncate, broadcast)


def register_ner_functions(spark: SparkSession, broadcast=None) -> None:
    """``LOAD ner`` analogue: register ``ner`` + its ``ner_extract`` alias
    (src/ner_extension.cpp:198-213) for both spark.sql and DataFrame use.
    Re-invoke after changing ``spark.ner.modelPath`` to re-snapshot (or use
    NerEngine.set_model_path)."""
    udf = session_ner_udf(spark, broadcast=broadcast)
    spark.udf.register("ner", udf)
    spark.udf.register("ner_extract", udf)


def ner(spark: SparkSession, col, truncate=None):
    """DataFrame-API entry: ``df.select(ner(spark, df.text))``."""
    udf = session_ner_udf(spark)
    if truncate is None:
        return udf(col)
    return udf(col, F.lit(truncate) if isinstance(truncate, bool) else truncate)
