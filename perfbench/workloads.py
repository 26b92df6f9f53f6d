"""The benchmark's workloads. Each runs in a fresh process on ``local[nproc]``
as one closed-loop client: the next operation starts when the previous one
has returned.

Every workload has the same shape, so every run reports the same end-to-end
metrics:

1. set-up, ending at the first timed operation (``setup_s``);
2. one first round, the first-ever execution of the workload's operations
   in this process (``first_round_s``);
3. steady rounds, each running every operation once in a seed-shuffled
   order, until the next round would end after ``--seconds`` (at least one;
   ``round_s``, ``op_geomean_s``);
4. an untimed correctness check of the results.
"""

from __future__ import annotations

import os
import random
import statistics
import time
import traceback
from collections.abc import Callable
from dataclasses import dataclass, field

from checks import oracle_results, reference_entities, spark_entities, sql_mismatch
from tracing import PHASE_PROPERTY, Spans, tree_cpu_s

# The 16 oracle-backed headline queries of bench.py (its HEADLINE minus the
# two rows-only NER queries).
SQL_QUERIES = [
    "q_agg_group", "q_filter", "q_join_inner", "q_join_multi", "q_join_outer",
    "q_topk", "q_window_rank", "q_window_frame", "q_subquery", "q_array",
    "q_json", "q_dedup_exact", "q_dedup_near", "q_sim_topk", "q_text_stats",
    "q_fingerprint",
]

# ner_batch: how many seeded documents the base model runs over per pass,
# and how many documents per model the correctness check compares.
BASE_DOCS = 160
CHECK_DOCS = {"tiny": 256, "base": 16, "stub": 512}
# Traced runs only: documents per in-process forward-pass probe. The tiny
# probe is one full 2048-row chunk, the UDF's Arrow batch size.
PROBE_DOCS = {"tiny": 2048, "base": 48}


def tuned_conf(cpus: int) -> dict[str, str]:
    """The session conf of bench.py's steady pass (see the comments there)."""
    return {
        "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16m",
        "spark.sql.shuffle.partitions": "8",
        "spark.duckdb_ner.scanRepartition": str(min(cpus, 8)),
        "spark.locality.wait": "0ms",
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "64m",
    }


@dataclass
class Run:
    """One workload run: its inputs, its clock and what it recorded."""

    seed: int
    seconds: float
    data_dir: str
    conf: dict[str, str]
    setup_start: float
    trace: bool = False
    models: dict[str, str] = field(default_factory=dict)
    spans: Spans = field(default_factory=Spans)
    spark: object = None
    setup_s: float = 0.0
    first_round_s: float = 0.0
    rounds: list[float] = field(default_factory=list)
    steady_ops: dict[str, list[float]] = field(default_factory=dict)
    attempted: int = 0
    failures: list[str] = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=dict)
    phase_starts: dict[str, float] = field(default_factory=dict)
    phase_cpu: dict[str, float] = field(default_factory=dict)

    def __post_init__(self) -> None:
        self.rng = random.Random(self.seed)

    def set_phase(self, phase: str) -> None:
        self.phase_starts[phase] = time.perf_counter()
        self.phase_cpu[phase] = tree_cpu_s(os.getpid())
        self.spans.phase = phase
        self.spark.sparkContext.setLocalProperty(PHASE_PROPERTY, phase)

    def end_setup(self) -> None:
        self.setup_s = time.perf_counter() - self.setup_start

    def execute(self, label: str, op: Callable[[], None]) -> None:
        """Time one operation; a raised error counts as a failed operation
        and the run goes on with the next one."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            op()
        except Exception:  # noqa: BLE001 - the run must survive and report it
            traceback.print_exc()
            self.failures.append(f"{label}: raised")
        dt = time.perf_counter() - t0
        if self.spans.phase == "steady":
            self.steady_ops.setdefault(label, []).append(dt)

    def check(self, label: str, compare: Callable[[], str | None]) -> None:
        """One untimed correctness check: ``compare`` returns None on a
        match, else the reason; a raised error counts as a mismatch."""
        self.attempted += 1
        try:
            reason = compare()
        except Exception:  # noqa: BLE001 - the run must survive and report it
            traceback.print_exc()
            reason = "raised"
        if reason is not None:
            self.failures.append(f"{label}: {reason}")

    def timed_rounds(self, one_round: Callable[[], None]) -> None:
        """Steady rounds until the next one would end after ``seconds``
        (at least one)."""
        self.set_phase("steady")
        t0 = time.perf_counter()
        while not self.rounds or (
            time.perf_counter() - t0 + statistics.median(self.rounds) <= self.seconds
        ):
            r0 = time.perf_counter()
            one_round()
            self.rounds.append(time.perf_counter() - r0)

    def first_round(self, one_round: Callable[[], None]) -> None:
        self.set_phase("first")
        t0 = time.perf_counter()
        one_round()
        self.first_round_s = time.perf_counter() - t0


def _length_stratified_sample(rng: random.Random, id_len: list[tuple[int, int]],
                              k: int) -> list[int]:
    """One seeded document from each of ``k`` equal strata of text length, so
    every seed's sample costs the model about the same."""
    by_len = [i for i, _ in sorted(id_len, key=lambda p: (p[1], p[0]))]
    n = len(by_len)
    return sorted(by_len[rng.randrange(j * n // k, (j + 1) * n // k)] for j in range(k))


def _noop(df) -> None:
    """Compute every column of every row without fetching it (bench.py's sink)."""
    df.write.format("noop").mode("overwrite").save()


def sql_mixed(run: Run, get_spark: Callable) -> None:
    spans = run.spans
    with spans.span("session.get_spark"):
        run.spark = spark = get_spark("perfbench-sql_mixed", extra_conf=run.conf)
    import duckdb_ner_spark.operators  # noqa: F401  (registers the declared queries)
    from duckdb_ner_spark.plans.registry import ORACLES, QUERIES
    from duckdb_ner_spark.sources.catalog import TABLES, load_tables

    with spans.span("catalog.resolve"):
        catalog = load_tables(spark, run.data_dir)
        tables = [catalog.table(t) for t in TABLES]
    with spans.span("catalog.cache_fill"):
        for df in tables:
            df.cache().count()
    run.end_setup()

    plans: dict[str, object] = {}
    reuse = [0, 0]  # builds that returned the previous DataFrame, rebuilds

    def query(name: str) -> None:
        with spans.span("registry.build"):
            df = QUERIES[name](spark, run.data_dir)
        if name in plans:
            reuse[0] += df is plans[name]
            reuse[1] += 1
        plans[name] = df
        with spans.span("spark.action"):
            _noop(df)

    def one_round() -> None:
        for name in run.rng.sample(SQL_QUERIES, len(SQL_QUERIES)):
            run.execute(name, lambda: query(name))

    run.first_round(one_round)
    run.timed_rounds(one_round)

    # Results are fetched only here, untimed: every timed round uses the
    # noop sink, so it times the engine and not the transfer to the driver.
    run.set_phase("check")
    oracle = oracle_results(run.data_dir, {n: ORACLES[n] for n in SQL_QUERIES})
    for name in SQL_QUERIES:
        run.check(name, lambda: sql_mismatch(
            QUERIES[name](spark, run.data_dir).toPandas(), oracle[name]))

    n = len(run.rounds)
    run.layers.update({
        "registry.build_miss_s": spans.total("registry.build", "first"),
        "registry.build_hit_s": spans.total("registry.build", "steady") / n,
        "registry.plan_reuse_ratio": reuse[0] / max(reuse[1], 1),
    })


def ner_batch(run: Run, get_spark: Callable) -> None:
    spans = run.spans
    with spans.span("session.get_spark"):
        run.spark = spark = get_spark("perfbench-ner_batch", extra_conf=run.conf)
    from pyspark.sql import functions as F

    from duckdb_ner_spark import NerEngine
    from duckdb_ner_spark.sources.catalog import load_tables

    with spans.span("catalog.resolve"):
        docs = load_tables(spark, run.data_dir).documents
    with spans.span("catalog.cache_fill"):
        n_docs = docs.cache().count()
        docs.createOrReplaceTempView("documents")
        id_len = [tuple(r) for r in docs.select("doc_id", "n_chars").collect()]
        base_ids = _length_stratified_sample(run.rng, id_len, min(BASE_DOCS, n_docs))
        sample = docs.where(F.col("doc_id").isin(base_ids)).cache()
        sample.count()
        sample.createOrReplaceTempView("documents_sample")
    with spans.span("ner_udf.register"):
        engine = NerEngine(spark)
    run.end_setup()

    views = {"tiny": ("documents", n_docs), "base": ("documents_sample", len(base_ids)),
             "stub": ("documents", n_docs)}

    def ner_pass(model: str) -> None:
        with spans.span("ner_udf.set_model_path"):
            engine.set_model_path(run.models[model])
        with spans.span("spark.action"):
            _noop(spark.sql(f"SELECT ner(text) AS entities FROM {views[model][0]}"))

    def one_round() -> None:
        for model in run.rng.sample(sorted(views), len(views)):
            run.execute(model, lambda: ner_pass(model))

    run.first_round(one_round)
    run.timed_rounds(one_round)

    run.set_phase("check")
    from duckdb_ner_spark.ner.model import load_model

    all_ids = sorted(i for i, _ in id_len)

    def ner_mismatch(model: str, view: str, ids: list[int]) -> str | None:
        engine.set_model_path(run.models[model])
        rows = spark.sql(
            f"SELECT doc_id, text, ner(text) AS entities FROM {view} "
            f"WHERE doc_id IN ({', '.join(map(str, ids))})"
        ).collect()
        want = reference_entities(load_model(run.models[model]), [r["text"] for r in rows])
        got = [spark_entities(r["entities"]) for r in rows]
        bad = sum(g != w for g, w in zip(got, want))
        if len(rows) == len(ids) and not bad:
            return None
        return f"{bad} of {len(rows)} docs differ ({len(ids)} expected)"

    for model, (view, _) in views.items():
        ids = base_ids if model == "base" else all_ids
        ids = sorted(run.rng.sample(ids, min(CHECK_DOCS[model], len(ids))))
        run.check(f"ner/{model}", lambda: ner_mismatch(model, view, ids))

    run.layers.update({
        f"ner_udf.{m}_docs_per_s": views[m][1] / statistics.median(run.steady_ops[m])
        for m in views
    })
    if run.trace:
        ner_layer_probes(run, dict(docs.select("doc_id", "text").collect()), base_ids)


def _forward_calls(token_lists: list[list[int]]) -> int:
    """Forward passes ``eval_tokens_batch`` makes: one per distinct length."""
    return len({len(t) for t in token_lists})


def ner_layer_probes(run: Run, texts: dict[int, str], base_ids: list[int]) -> None:
    """In-process timings of the NER layers on the workload's own models
    and documents, through the package's public functions. Batches are
    2048-row chunks, the UDF's Arrow batch size."""
    from duckdb_ner_spark.ner.decode import decode_entities
    from duckdb_ner_spark.ner.model import load_model
    from duckdb_ner_spark.ner.tokenizer import tokenize

    spans = run.spans
    spans.phase = "probe"
    models = {}
    for m, path in run.models.items():
        with spans.span("model.load"):
            models[m] = load_model(path)

    tiny = models["tiny"]
    ids = sorted(run.rng.sample(sorted(texts), min(PROBE_DOCS["tiny"], len(texts))))
    docs = [texts[i] for i in ids]
    with spans.span("tokenizer"):
        toks = [tokenize(tiny.vocab, t, tiny.n_max_tokens) for t in docs]
    with spans.span("bert_numpy.tiny"):
        logits = tiny.eval_tokens_batch(toks)
    with spans.span("decode"):
        for t, lg in zip(toks, logits):
            decode_entities(t, lg, tiny.vocab.id_to_token)

    base = models["base"]
    btoks = [tokenize(base.vocab, texts[i], base.n_max_tokens)
             for i in base_ids[: PROBE_DOCS["base"]]]
    with spans.span("bert_numpy.base"):
        base.eval_tokens_batch(btoks)

    ms = 1e3
    run.layers.update({
        "model.load_s": spans.total("model.load"),
        "tokenizer.ms_per_doc": spans.total("tokenizer") * ms / len(toks),
        "decode.ms_per_doc": spans.total("decode") * ms / len(toks),
        "bert_numpy.tiny_ms_per_doc": spans.total("bert_numpy.tiny") * ms / len(toks),
        "bert_numpy.tiny_rows_per_forward": len(toks) / _forward_calls(toks),
        "bert_numpy.base_ms_per_doc": spans.total("bert_numpy.base") * ms / len(btoks),
        "bert_numpy.base_rows_per_forward": len(btoks) / _forward_calls(btoks),
    })


WORKLOADS: dict[str, Callable[[Run, Callable], None]] = {
    "sql_mixed": sql_mixed,
    "ner_batch": ner_batch,
}
