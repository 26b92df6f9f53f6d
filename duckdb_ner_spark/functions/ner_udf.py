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

Batch path: ``ner_fn`` works on each Arrow batch as flat arrays, with no
per-row or per-token Python loop (``_ner_arrow``):

- tokenize (``tokenizer.tokenize_batch``): Arrow splits the texts on the six
  ASCII whitespace bytes and dictionary-encodes the words; each DISTINCT
  word is WordPiece-matched once; offset arithmetic expands the pieces and
  applies ``([CLS] + pieces)[:n_max-1] + [SEP]`` per row;
- label (``Backend.token_labels``): the BERT runs one forward pass per
  length group and keeps only each token's argmax; the JSON stub is one
  table lookup;
- decode (``decode.decode_batch``): the BIO merge state is computed for all
  tokens at once and entity texts are joined with ``pc.binary_join``;
- the ``ListArray<Struct<entity,label>>`` result is built from offsets.

The per-row functions ``tokenizer.tokenize``, ``decode.decode_entities`` and
the backends' ``eval_tokens(_batch)`` are the reference port and stay as the
spec of this path: the tests compare the two row by row, and perfbench's
``ner/*`` checks compute their expected entities with them.

Scale notes (100 TB): model inference is embarrassingly parallel over rows —
throughput scales with executors; the model file must sit on shared storage
(or ship via ``spark.files``); per-executor memory = one model instance
(reference: 512 MB arena + 128 MB scratch; our stub ~KB). Rows are batched
through the model rather than the reference's per-row graph rebuild
(SURVEY.md §4.2 "notable inefficiency ... not copied").
"""

from __future__ import annotations

from typing import Optional

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import ArrayType, StringType, StructField, StructType

from ..ner.decode import decode_batch
from ..ner.model import load_model
from ..ner.tokenizer import tokenize_batch
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


def _entity_lists(texts: pa.Array, entities: pa.Array, labels: pa.Array, row_offsets) -> pa.Array:
    """``ListArray<Struct<entity, label>>`` from per-row entity offsets; a
    null text gives a null list."""
    structs = pa.StructArray.from_arrays(
        [entities, labels], fields=list(_ARROW_RESULT_TYPE.value_type)
    )
    return pa.ListArray.from_arrays(
        pa.array(row_offsets, pa.int32()), structs, type=_ARROW_RESULT_TYPE,
        mask=pc.is_null(texts),
    )


def _ner_arrow(texts: pa.Array, model, truncate: bool) -> pa.Array:
    """The UDF body: one Arrow batch of texts → its entity lists, with no
    per-row or per-token Python loop."""
    if model is None:
        empty = pa.array([], pa.string())
        return _entity_lists(texts, empty, empty, np.zeros(len(texts) + 1, np.int64))
    ids, offsets = tokenize_batch(model.vocab, texts, model.n_max_tokens)
    lengths = np.diff(offsets)
    # a null row has no tokens, a text at least [CLS] and [SEP]
    if not truncate and ((lengths >= model.n_max_tokens) & (lengths > 0)).any():
        raise ValueError("Input string exceeds model token limit and truncate=false")
    labels = model.token_labels(ids, offsets)
    return _entity_lists(texts, *decode_batch(model.vocab, ids, labels, offsets))


def make_ner_udf(model_path: Optional[str], default_truncate: bool = True, broadcast=None):
    """Build the Arrow UDF for a fixed model path + default truncate. Pass
    ``broadcast`` (a SparkContext broadcast of the model file bytes) to ship
    weights via the torrent-style broadcast channel instead of shared FS."""

    def ner_fn(texts: pa.Array, truncate: pa.Array = None) -> pa.Array:
        trunc = default_truncate
        if truncate is not None and len(truncate) > 0 and truncate[0].is_valid:
            # reference reads row 0 of the chunk only (src/ner_extension.cpp:55-61)
            trunc = bool(truncate[0].as_py())
        return _ner_arrow(texts, _get_model(model_path, broadcast), trunc)

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
