"""NER-at-scale declared queries (SURVEY.md §2.D D6).

Rows-only: the DuckDB 1.0 oracle has no ner() function. Determinism comes
from the committed stub model (resources/doc_stub_model.json) whose
token→label map covers the documents vocabulary, so entity extraction and
the BIO merge run for real over every row; pytest pins golden outputs.

Scale notes: scan → Arrow-batched UDF → explode → partial-agg count. One
shuffle (on entity/label), model loaded once per executor process.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.registry import declared
from ..sources.catalog import load_tables

DOC_STUB_MODEL = os.path.join(os.path.dirname(os.path.dirname(__file__)), "resources", "doc_stub_model.json")


@declared("q_ner", cache_plan=False)
def q_ner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity counts over documents with the committed stub model: the full
    A1-A14 dataflow (tokenize → eval → BIO merge → list<struct>) at table
    scale, then a relational rollup of the nested result."""
    from ..functions.ner_udf import make_ner_udf

    t = load_tables(spark, sf_dir)
    udf = make_ner_udf(DOC_STUB_MODEL, default_truncate=True)
    # Scan parallelism comes from the catalog's documents floor (catalog.py
    # _FLOOR_TABLES) / scanRepartition — NOT a per-query repartition: that was
    # a second full shuffle of the text column on every run (r13 measured
    # 1.037 s → 0.605 s best-of-5 dropping it at sf0.1), and at 100 TB the
    # scan is thousands of splits so a blanket repartition is pure cost.
    docs = t.documents
    ents = docs.select("doc_id", udf(F.col("text")).alias("entities"))
    ex = ents.select("doc_id", F.explode("entities").alias("e"))
    return (
        ex.groupBy(F.col("e.label").alias("label"), F.col("e.entity").alias("entity"))
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "label", "entity")
        .limit(50)
    )


# q_ner_bert's model vocabulary: the documents corpus words
BERT_DOC_VOCAB = [
    "[CLS]", "[SEP]", "key", "agg", "row", "scan", "slow", "fast", "table",
    "value", "part", "hash", "a", "the", "batch", "window", "spark", "order",
    "data", "column", "join", "small", "line", "customer", "query", "merge",
    "big", "filter", "sort", "stream", "group",
]


@declared("q_ner_bert", cache_plan=False)
def q_ner_bert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full transformer inference at table scale: a deterministic tiny BERT
    (GGML container, seeded random weights over the documents vocabulary)
    through the batched NumPy forward pass. Rows-only; pins the
    tokenize→encode→BIO pipeline cost in BENCH."""
    import tempfile

    from ..functions.ner_udf import make_ner_udf
    from ..ner.ggml_format import random_model, write_ggml

    model_path = os.path.join(tempfile.gettempdir(), "ner_bench_bert_v1.bin")
    if not os.path.exists(model_path):
        hp, tensors = random_model(
            BERT_DOC_VOCAB, n_embd=32, n_head=4, n_layer=2, n_labels=9, n_max_tokens=128, seed=11
        )
        # a killed or racing writer must not leave a truncated file at the
        # final path: the silent loader would read it as "no model" forever
        tmp_path = f"{model_path}.{os.getpid()}"
        write_ggml(tmp_path, hp, BERT_DOC_VOCAB, tensors)
        os.replace(tmp_path, model_path)

    t = load_tables(spark, sf_dir)
    udf = make_ner_udf(model_path, default_truncate=True)
    # REAL-inference regime (unlike stub-model q_ner): the forward pass costs
    # ~0.58 ms/doc on one BLAS thread (sf0.1: 2.9 s for 5 000 docs), so stage
    # width = every core beats its shuffle at any scale — noop-sink A/B at
    # sf0.1 (r13, before the x*x*x GELU): 8/16/32-wide 1.400/1.118/0.896 s.
    # q_ner's no-repart choice does NOT transfer here; its count()-timed
    # cell never executed the UDF (Catalyst prunes an unreferenced project —
    # OPTIMIZATION_r13.md §bench measurement note).
    docs = t.documents.repartition(spark.sparkContext.defaultParallelism)
    ents = docs.select("doc_id", udf(F.col("text")).alias("entities"))
    return ents.select("doc_id", F.size("entities").alias("n_entities"))


_NER_DEFAULT_ORACLE = """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(text) AS BIGINT) AS n_empty,
           CAST(COUNT(*) - COUNT(text) AS BIGINT) AS n_null
    FROM documents
"""


@declared("q_ner_default_empty", cache_plan=False, oracle=_NER_DEFAULT_ORACLE)
def q_ner_default_empty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference default semantics at table scale: no model ⇒ every non-null
    row yields [] (src/ner_extension.cpp:68-76). Output is a 1-row audit.

    Oracle (upgraded from rows-only): DuckDB cannot run ner(), but it CAN
    state the reference's pinned no-model contract declaratively — every
    non-null text yields exactly [] and every NULL text yields NULL — so the
    oracle asserts n_empty == COUNT(text) and n_null == COUNT(*) -
    COUNT(text). A UDF regression that returned NULL, non-empty, or dropped
    rows on the no-model path now fails the driver hash, not just pytest."""
    from ..functions.ner_udf import make_ner_udf

    t = load_tables(spark, sf_dir)
    udf = make_ner_udf(None)
    ents = t.documents.select(udf(F.col("text")).alias("entities"))
    return ents.agg(
        F.count("*").alias("n_rows"),
        F.sum(F.when(F.size("entities") == 0, 1).otherwise(0)).cast("bigint").alias("n_empty"),
        F.sum(F.when(F.col("entities").isNull(), 1).otherwise(0)).cast("bigint").alias("n_null"),
    )


# --------------------------------------------------------------------------
# Tokenizer fertility audit (the A7 WordPiece applied as a pipeline metric)
# --------------------------------------------------------------------------

# Vocabulary for the fertility probe: frequent corpus words kept WHOLE, the
# full lowercase alphabet as single-letter pieces (first-piece and ##subword
# forms) so every word tokenizes without byte-skips, and a few multi-letter
# pieces so common words the vocab lacks split into 2-3 pieces rather than
# per-letter dust. Deterministic module constant → same fertility everywhere.
FERTILITY_VOCAB: tuple[str, ...] = (
    "[CLS]", "[SEP]",
    # whole high-frequency corpus words (fertility 1)
    "the", "table", "scan", "join", "batch", "data", "row", "key", "sort",
    "merge", "window", "spark", "filter", "value", "order", "query", "part",
    # multi-letter pieces
    "cus", "##tomer", "col", "##umn", "str", "##eam", "vec", "##tor",
    "sm", "##all", "sl", "##ow", "fa", "##st", "gr", "##oup", "ag", "##g",
) + tuple("abcdefghijklmnopqrstuvwxyz") + tuple(
    f"##{c}" for c in "abcdefghijklmnopqrstuvwxyz"
)

FERTILITY_MAX_TOKENS = 4096


@declared("q_tokenizer_fertility", cache_plan=False)
def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility (wordpieces per whitespace word) per language —
    the statistic that prices a tokenizer against a corpus: fertility near
    1.0 means the vocabulary covers the text; high fertility means the
    model pays N× the sequence length (and N× attention compute) for the
    same words. Runs the REAL reference WordPiece (A7: byte-level greedy
    longest-match, ner/tokenizer.py) inside an Arrow-batched pandas UDF —
    the same per-worker vocab singleton + word-memo design as the NER UDF.

    Rows-only by necessity: DuckDB cannot run the byte-level WordPiece;
    distributed-vs-driver parity is pinned in pytest instead
    (tests/test_retrieval.py).

    Scale notes (100 TB): narrow map over documents (no shuffle before the
    per-lang combiner aggregate); the word-level memo makes repeated words
    dict hits, so throughput tracks DISTINCT words per batch, not words."""
    from pyspark.sql.functions import pandas_udf

    # per-worker vocab singleton: the closure dict is pickled once per
    # worker, so the vocab (and its word-piece memo) builds once per
    # executor process, not per batch — the ner_udf model-singleton pattern
    holder: dict[str, object] = {}

    @pandas_udf("long")
    def n_pieces(texts: pd.Series) -> pd.Series:
        from ..ner.tokenizer import tokenize
        from ..ner.vocab import Vocab

        vocab = holder.get("v")
        if vocab is None:
            vocab = Vocab.from_tokens(list(FERTILITY_VOCAB))
            holder["v"] = vocab
        return texts.map(
            lambda t: 0
            if t is None
            else len(tokenize(vocab, t, FERTILITY_MAX_TOKENS)) - 2  # - [CLS][SEP]
        )

    t = load_tables(spark, sf_dir)
    d = t.documents.select(
        "lang",
        F.size(F.split("text", " ")).cast("bigint").alias("n_words"),
        n_pieces(F.col("text")).alias("n_pieces"),
    )
    return d.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_words").cast("bigint").alias("n_words"),
        F.sum("n_pieces").cast("bigint").alias("n_pieces"),
        F.expr("SUM(n_pieces) * 1e0 / SUM(n_words)").alias("fertility"),
    )


# --------------------------------------------------------------------------
# Entity co-occurrence mining (NER output feeding graph analytics)
# --------------------------------------------------------------------------

NER_PAIRS_TOP = 30


@declared("q_ner_pairs", cache_plan=False)
def q_ner_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity co-occurrence mining over the NER dataflow's OUTPUT: every
    unordered pair of distinct (label, entity) tuples extracted from the
    same document, counted corpus-wide — the knowledge-graph edge-building
    pass that runs downstream of extraction (A1-A13), demonstrating the
    nested list<struct> result feeding relational analytics in one plan.

    Rows-only (ner() has no SQL twin); determinism comes from the committed
    stub model, and the pair math is pinned by a pure-Python recompute in
    pytest.

    Scale notes (100 TB): the per-doc pair fan-out is bounded by
    C(entities-per-doc, 2) — entity lists are short by construction (the
    reference caps tokens per doc); pairs aggregate with the combiner;
    top-k is TakeOrdered."""
    from ..functions.ner_udf import make_ner_udf

    t = load_tables(spark, sf_dir)
    udf = make_ner_udf(DOC_STUB_MODEL, default_truncate=True)
    # catalog scan floor supplies the Python-stage parallelism (see q_ner)
    docs = t.documents
    ents = (
        docs.select("doc_id", udf(F.col("text")).alias("entities"))
        .select(
            "doc_id",
            F.array_sort(
                F.array_distinct(
                    F.expr(
                        "transform(entities,"
                        " e -> struct(e.label AS label, e.entity AS entity))"
                    )
                )
            ).alias("es"),
        )
    )
    # build unordered pairs JVM-side: for i<j emit (es[i], es[j])
    pairs = ents.select(
        F.explode(
            F.expr(
                "flatten(transform(es, (a, i) ->"
                " transform(slice(es, i + 2, size(es)), b -> struct(a AS p1, b AS p2))))"
            )
        ).alias("p")
    )
    return (
        pairs.groupBy(
            F.col("p.p1.label").alias("label_a"),
            F.col("p.p1.entity").alias("entity_a"),
            F.col("p.p2.label").alias("label_b"),
            F.col("p.p2.entity").alias("entity_b"),
        )
        .agg(F.count("*").cast("bigint").alias("n_docs"))
        .orderBy(
            F.col("n_docs").desc(), "label_a", "entity_a", "label_b", "entity_b"
        )
        .limit(NER_PAIRS_TOP)
    )
