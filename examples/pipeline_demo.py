"""End-to-end demo: what a reference (duckdb-NER) user's workflow looks like
on this engine — SQL analytics + ner() + the training-data pipeline ops.

Run: python examples/pipeline_demo.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import pyspark.sql.functions as F  # noqa: E402

from duckdb_ner_spark import (  # noqa: E402
    NerEngine,
    collapse_near_dups,
    dedup_near_minhash,
    get_spark,
    topk_cosine,
)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    engine = NerEngine(get_spark("demo"))
    spark = engine.spark
    engine.register_views(sf_dir)

    print("== relational SQL (host-engine surface) ==")
    spark.sql(
        """
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2
        """
    ).show()

    print("== ner() with the stub model (extension surface) ==")
    engine.set_model_path(os.path.join(ROOT, "tests", "fixtures", "stub_model.json"))
    spark.sql("SELECT ner('sam is in new york') AS entities").show(truncate=False)

    print("== near-dedup: MinHash-LSH pairs -> cluster collapse ==")
    docs = spark.table("documents")
    pairs = dedup_near_minhash(docs, threshold=0.9).select("doc_a", "doc_b")
    pairs.show(5)
    kept = collapse_near_dups(docs, pairs)
    print(f"documents: {docs.count()} -> {kept.count()} after near-dedup")

    print("== similarity: top-5 neighbors of vec 0 ==")
    emb = spark.table("embeddings")
    q = list(emb.filter(F.col("vec_id") == 0).head().embedding)
    topk_cosine(emb.filter(F.col("vec_id") != 0), q, 5).show()

    print("== full training-data prep chain (dedup -> quality -> mix -> chunk) ==")
    # each stage is the declared operator run on the previous stage's survivors
    from duckdb_ner_spark.operators.layout_queries import (
        MIX_RATES,
        q_mix_sample,
        q_quality_cut,
    )
    from duckdb_ner_spark.operators.trainprep import q_chunk, q_repetition

    rep = q_repetition(spark, sf_dir)
    n_flagged = rep.filter(F.col("flagged")).count()
    print(f"repetition filter: {n_flagged} docs flagged for drop")
    kept_half = q_quality_cut(spark, sf_dir)
    print(f"quality cut: {kept_half.count()} docs in the per-language top half")
    q_mix_sample(spark, sf_dir).orderBy("lang").show()
    print(f"(configured mix rates: {MIX_RATES})")
    chunks = q_chunk(spark, sf_dir)
    print(f"chunking: {chunks.count()} training windows from {docs.count()} docs")

    print("== embedding compression: int8 quantization (4x smaller index) ==")
    from duckdb_ner_spark.operators.similarity import q_embed_quant

    q_embed_quant(spark, sf_dir).orderBy("vec_id").show(5)

    print("== corpus curation (audit -> budget -> buckets -> split) ==")
    from duckdb_ner_spark.operators.curation import (
        q_ccnet_bucket,
        q_split,
        q_template_spectrum,
        q_token_budget,
    )

    print("boilerplate-template spectrum (cluster sizes -> how duplicated):")
    q_template_spectrum(spark, sf_dir).orderBy("cluster_size").show()
    print("per-source token-budget allocation (weighted data mixing):")
    q_token_budget(spark, sf_dir).orderBy("source").show(5)
    print("CCNet-style per-language quality tertiles (keep the head):")
    q_ccnet_bucket(spark, sf_dir).orderBy("lang", "tier_id").show(6)
    print("deterministic train/val/test split audit:")
    q_split(spark, sf_dir).orderBy("split", "lang").show()

    print("== sampling + sub-document cleaning (caps -> temperature -> lines -> DSIR) ==")
    from duckdb_ner_spark.operators.cleaning import q_dsir, q_line_dedup
    from duckdb_ner_spark.operators.sampling import (
        q_domain_cap,
        q_len_quantile,
        q_temperature_mix,
    )

    capped = q_domain_cap(spark, sf_dir)
    print(f"per-domain cap: {capped.count()} docs kept across {capped.select('source').distinct().count()} sources")
    print("temperature-scaled mixture allocation (tau=2):")
    q_temperature_mix(spark, sf_dir).orderBy("lang").show()
    print("per-language length windows (PERCENTILE_DISC p05/p50/p95):")
    q_len_quantile(spark, sf_dir).orderBy("lang").show()
    ld = q_line_dedup(spark, sf_dir)
    n_drop = ld.filter(~F.col("keep")).count()
    print(f"block-level line dedup: {n_drop} docs exceed the 50% duplicate-block rule")
    print("DSIR importance weights (top target-domain lookalikes):")
    q_dsir(spark, sf_dir).orderBy(F.desc("avg_ratio_fx"), "doc_id").show(5)

    print("== behavioral analytics over the events stream ==")
    from duckdb_ner_spark.operators.scalepatterns import (
        q_attribution,
        q_cohort_retention,
        q_funnel,
    )

    print("ordered funnel (view -> click -> purchase):")
    q_funnel(spark, sf_dir).show()
    print("weekly cohort retention triangle (first 6 cells):")
    q_cohort_retention(spark, sf_dir).orderBy("cohort_id", "week_offset").show(6)
    attr = q_attribution(spark, sf_dir)
    print(f"last-touch attribution: {attr.count()} purchases credited to a view")

    print("== corpus monitoring & sketches ==")
    from duckdb_ner_spark.operators.sketches import q_consistent_hash, q_hll_registers
    from duckdb_ner_spark.operators.stats import q_cusum, q_ks_drift

    hll = q_hll_registers(spark, sf_dir).collect()[0]
    print(
        f"HLL trigram cardinality: est {hll.raw_est} vs true "
        f"{hll.true_distinct} ({hll.n_registers_hit}/{hll.m} registers hit)"
    )
    print("KS length-drift per source (worst 3):")
    q_ks_drift(spark, sf_dir).show(3)
    print("CUSUM value-drift alarms per event type:")
    q_cusum(spark, sf_dir).show()
    moved = q_consistent_hash(spark, sf_dir)
    gained = moved.filter(F.col("shard") < 8).agg(F.sum("gained")).collect()[0][0]
    print(
        f"consistent-hash resharding: old shards gained {gained} docs "
        "(minimal disruption — only the new shard takes load)"
    )

    print("== round-11 surface: compressed ANN, certified sketches, ingest ops ==")
    from duckdb_ner_spark.plans.registry import QUERIES

    ba = QUERIES["q_binary_ann"](spark, sf_dir)
    r0 = ba.filter(F.col("q_id") == 0).orderBy("rank").collect()
    print(
        f"1-bit binary ANN (32x compression): query 0 top-{len(r0)} via "
        f"Hamming shortlist + exact re-rank, recall {r0[0].recall_bp} bp "
        f"(audited in-plan): {[r.vec_id for r in r0]}"
    )
    print("LSH banding curve (the dedup tuning table):")
    QUERIES["q_lsh_sweep"](spark, sf_dir).orderBy("n_bands").show()
    print("certified quantile sketch (error bound <= 7 chars, in_bound == 1):")
    QUERIES["q_quantile_sketch"](spark, sf_dir).orderBy("lang", "q").show(6)
    ws = QUERIES["q_wsample_priority"](spark, sf_dir).collect()
    print(
        f"priority sample (k={len(ws)}): estimator total {ws[0].total_w_est} "
        f"vs true {ws[0].total_w_true} ({ws[0].err_bp} bp error, unbiased DLT)"
    )
    print("peak concurrency per day (first 3):")
    QUERIES["q_max_concurrency"](spark, sf_dir).orderBy("day").show(3)

    print("== round-12 surface: quality gates, layout, privacy, maintenance ==")
    gr = QUERIES["q_gopher_repetition"](spark, sf_dir)
    n_drop = gr.filter(F.col("keep") == 0).count()
    print(
        f"Gopher repetition battery: {n_drop}/{gr.count()} docs dropped "
        "(top-2-gram / dup-3-gram char-fraction thresholds)"
    )
    print("Bloom admission census (filter FPR audited in-plan, first 4):")
    QUERIES["q_bloom_dedup"](spark, sf_dir).orderBy("source").show(4)
    print("cluster-aware fold split (spanning_docs == 0 is the proof):")
    QUERIES["q_fold_split"](spark, sf_dir).orderBy("split").show()
    zp = {r["layout"]: r for r in QUERIES["q_zorder_prune"](spark, sf_dir).collect()}
    print(
        f"z-order pruning: {zp['zorder'].files_touched} files touched vs "
        f"{zp['rowmajor'].files_touched} row-major (read-amp "
        f"{zp['zorder'].read_amp_bp} vs {zp['rowmajor'].read_amp_bp} bp)"
    )
    re_rows = QUERIES["q_rank_eval"](spark, sf_dir).collect()
    hit = sum(r.top1_hit for r in re_rows)
    print(
        f"int8 rank-displacement eval: true NN ranked #1 for {hit}/"
        f"{len(re_rows)} queries (mean rr {sum(r.rr_bp for r in re_rows) // len(re_rows)} bp)"
    )
    cc = QUERIES["q_cc_incr"](spark, sf_dir)
    print(
        f"incremental CC: {cc.filter(F.col('changed') == 1).count()} of "
        f"{cc.count()} cluster labels changed by the delta batch "
        "(maintenance == rebuild via the cross-engine hash gate)"
    )
    rr = QUERIES["q_rand_response"](spark, sf_dir).orderBy("source")
    print("epsilon-DP randomized response (estimator vs truth, first 4):")
    rr.show(4)
    print("SimHash operating curve (radius -> cost/recall):")
    QUERIES["q_simhash_sweep"](spark, sf_dir).orderBy("radius").show()
    ms = QUERIES["q_maxsim_topk"](spark, sf_dir)
    print(f"MaxSim late-interaction top-k: {ms.count()} ranked rows "
          "(sum-of-max over 4 unit sub-vectors, integer fixed point)")
    tb = QUERIES["q_topk_bounds"](spark, sf_dir)
    open_c = tb.filter(F.col("guaranteed") == 0).count()
    print(
        f"distributed top-k bounds: {tb.count()} candidates from per-shard "
        f"top-5, {open_c} certificates open (uniform corpus: the TA answer "
        "is 'second exchange needed'), bounds hold for all"
    )

    # round-13 surface: the composed retrieval path, its operating curve,
    # graded order eval, and the two in-plan classifiers
    mr = QUERIES["q_maxsim_rerank"](spark, sf_dir)
    recs = sorted({r.q_id: r.recall_bp for r in mr.collect()}.values())
    print(
        f"two-stage compressed MaxSim: int8 shortlist -> exact re-rank, "
        f"recall_bp per query {recs} vs brute force"
    )
    print("shortlist-size operating curve (m -> recall):")
    QUERIES["q_maxsim_sweep"](spark, sf_dir).orderBy("m").show()
    nd = QUERIES["q_ndcg_eval"](spark, sf_dir).collect()
    print(
        f"integer nDCG of the int8 ranking: mean "
        f"{sum(r.ndcg_bp for r in nd) // len(nd)} bp over {len(nd)} queries"
    )
    li = QUERIES["q_langid"](spark, sf_dir)
    agree = {r.lang: r.agree_bp for r in li.collect()}
    print(
        f"language-ID inference (quantized NB): per-lang agreement vs "
        f"shipped labels {agree} (prior-collapse regime — see docstring)"
    )
    qs = QUERIES["q_quality_score"](spark, sf_dir).orderBy("source")
    print("linear quality classifier vs the exact gate (first 4 sources):")
    qs.show(4)


if __name__ == "__main__":
    main()
