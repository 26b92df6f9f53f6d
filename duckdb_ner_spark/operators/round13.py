"""Round-13 operators: the composed production retrieval path (binary
shortlist -> MaxSim re-rank), language-ID inference, and the in-plan
linear quality classifier.

Beyond-reference surface (SURVEY.md §2.D): the three ops VERDICT r12
called for:

- q_maxsim_rerank — the COMPOSED production retrieval path q_maxsim_topk's
                  scale notes promise: int8 compressed-MaxSim stage 1
                  (the PLAID/ColBERTv2 shape) shortlists top-M, exact
                  fixed-point MaxSim re-ranks the survivors, with the
                  recall audit vs the exact MaxSim top-k hash-verified
                  in-plan — q_pq_rerank's shortlist-then-exact shape with
                  MaxSim as the exact scorer.
- q_langid      — LANGUAGE-ID INFERENCE: add-1-smoothed unigram naive
                  Bayes with bit-length-quantized surprisal weights (the
                  q_surprisal integer-log2 idiom), trained on the labeled
                  half of the corpus, integer argmin on the held-out half
                  — the one standard curation stage the corpus previously
                  consumed as a given column (documents.lang) instead of
                  computing. Audit = confusion matrix + per-language
                  agreement with the shipped labels.
- q_quality_score — the IN-PLAN LINEAR QUALITY CLASSIFIER (fastText/
                  Rocchio-style): hashed token-count features, integer
                  centroid-difference weights trained on the labeled half
                  against the q_quality_gate keep verdict, fixed-point dot
                  scored on the held-out half — the model-based complement
                  to q_gopher_repetition's heuristics, with the
                  model-vs-gate agreement audited per source.

House rules (SURVEY §2.C): integer or single-correctly-rounded-op arithmetic
only, every integer aggregate CAST to BIGINT on both sides, md5-derived
determinism for anything hashed, column aliases identical Spark/DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans.registry import declared
from ..sources.catalog import load_tables
from ..sources.writers import scratch_dir
from .round12 import _hex_to_int_sql, maxsim_slice_units
from .similarity import FX_SCALE
from .textstats import (
    GATE_DISTINCT_DEN,
    GATE_DISTINCT_NUM,
    GATE_HIGH_BITS,
    GATE_LOW_BITS,
    GATE_MIN_WORDS,
)

# --------------------------------------------------------------------------
# q_maxsim_rerank — binary Hamming shortlist -> MaxSim re-rank, recall
# audited in-plan against the exact MaxSim top-k
# --------------------------------------------------------------------------

MR_NQ = 4  # query vectors: vec_id 0..3 (present at every SF)
MR_M = 32  # stage-1 shortlist size per query
MR_K = 5  # re-ranked results per query
MR_SUBDIM = 16  # slice width (64 dims -> 4 x 16, the round12 MS_* layout)
MR_LEVELS = 127  # int8 symmetric levels for the stage-1 codes

# Per-slice fixed-point unit sub-vectors (round12 _MS_U_SQL arithmetic) with
# CTE names disjoint from _U_CTE so both vector views could coexist; su
# feeds BOTH the int8 stage-1 codes and the exact MaxSim re-rank.
_MR_SLICE_SQL = f"""
    exs AS (
        SELECT vec_id, (i - 1) // {MR_SUBDIM} AS s,
               (i - 1) % {MR_SUBDIM} AS li, xi0
        FROM exq0
    ), snorms AS (
        SELECT vec_id, s, SQRT(CAST(SUM(xi0 * xi0) AS DOUBLE)) AS nrm
        FROM exs GROUP BY vec_id, s
    ), su AS (
        SELECT e.vec_id, e.s, e.li,
               CASE WHEN n.nrm = 0 THEN CAST(0 AS BIGINT)
                    ELSE CAST(ROUND(CAST(e.xi0 AS DOUBLE) / n.nrm
                                    * {FX_SCALE}) AS BIGINT) END AS xi
        FROM exs e JOIN snorms n ON n.vec_id = e.vec_id AND n.s = e.s
    )
"""

_MAXSIM_RERANK_ORACLE = f"""
    WITH ex AS (
        SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings
    ), exq0 AS (
        SELECT vec_id, i, CAST(ROUND(x * {FX_SCALE}) AS BIGINT) AS xi0
        FROM ex
    ), {_MR_SLICE_SQL}, mx AS (
        SELECT vec_id, s, CAST(MAX(ABS(xi)) AS BIGINT) AS mabs
        FROM su GROUP BY vec_id, s
    ), q8 AS (
        -- int8 stage-1 codes: the q_quant_sweep scalar-quantization
        -- construction applied per slice (scale = {MR_LEVELS}/max|xi|)
        SELECT s2.vec_id, s2.s, s2.li,
               CAST(FLOOR(CAST(s2.xi AS DOUBLE)
                          * (CASE WHEN m.mabs = 0 THEN 0.0
                                  ELSE {MR_LEVELS}.0
                                       / CAST(m.mabs AS DOUBLE) END)
                          + 0.5) AS BIGINT) AS qi
        FROM su s2 JOIN mx m ON m.vec_id = s2.vec_id AND m.s = s2.s
    ), q8q AS (
        SELECT vec_id AS q_id, s AS qs, li, qi FROM q8
        WHERE vec_id < {MR_NQ}
    ), q8dots AS (
        SELECT qq.q_id, qq.qs, c.vec_id AS cand, c.s AS cs,
               CAST(SUM(qq.qi * c.qi) AS BIGINT) AS dot
        FROM q8 c JOIN q8q qq ON qq.li = c.li AND c.vec_id <> qq.q_id
        GROUP BY qq.q_id, qq.qs, c.vec_id, c.s
    ), q8best AS (
        SELECT q_id, qs, cand, MAX(dot) AS best_dot
        FROM q8dots GROUP BY q_id, qs, cand
    ), q8score AS (
        SELECT q_id, cand, CAST(SUM(best_dot) AS BIGINT) AS q8sim
        FROM q8best GROUP BY q_id, cand
    ), shortlist AS (
        SELECT q_id, cand, q8sim,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY q8sim DESC, cand) AS srank
        FROM q8score
    ), qsu AS (
        SELECT vec_id AS q_id, s AS qs, li, xi FROM su
        WHERE vec_id < {MR_NQ}
    ), cdots AS (
        SELECT sl.q_id, qs.qs, sl.cand, su.s AS cs,
               CAST(SUM(qs.xi * su.xi) AS BIGINT) AS dot
        FROM shortlist sl
        JOIN su ON su.vec_id = sl.cand
        JOIN qsu qs ON qs.q_id = sl.q_id AND qs.li = su.li
        WHERE sl.srank <= {MR_M}
        GROUP BY sl.q_id, qs.qs, sl.cand, su.s
    ), cbest AS (
        SELECT q_id, qs, cand, MAX(dot) AS best_dot
        FROM cdots GROUP BY q_id, qs, cand
    ), cscore AS (
        SELECT q_id, cand, CAST(SUM(best_dot) AS BIGINT) AS maxsim_fx
        FROM cbest GROUP BY q_id, cand
    ), approx AS (
        SELECT q_id, cand, maxsim_fx,
               CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                                       ORDER BY maxsim_fx DESC, cand)
                    AS BIGINT) AS rank
        FROM cscore
    ), edots AS (
        -- audit-only: brute-force exact MaxSim ground truth

        SELECT uq.vec_id AS q_id, uq.s AS qs, uc.vec_id AS cand, uc.s AS cs,
               CAST(SUM(uq.xi * uc.xi) AS BIGINT) AS dot
        FROM su uq JOIN su uc ON uc.li = uq.li AND uc.vec_id <> uq.vec_id
        WHERE uq.vec_id < {MR_NQ}
        GROUP BY uq.vec_id, uq.s, uc.vec_id, uc.s
    ), ebest AS (
        SELECT q_id, qs, cand, MAX(dot) AS best_dot
        FROM edots GROUP BY q_id, qs, cand
    ), escore AS (
        SELECT q_id, cand, CAST(SUM(best_dot) AS BIGINT) AS ms
        FROM ebest GROUP BY q_id, cand
    ), exact_topk AS (
        SELECT q_id, cand
        FROM (SELECT q_id, cand,
                     ROW_NUMBER() OVER (PARTITION BY q_id
                                        ORDER BY ms DESC, cand) AS r
              FROM escore)
        WHERE r <= {MR_K}
    ), recall AS (
        SELECT a.q_id,
               CAST(10000 * COUNT(e.cand) // {MR_K} AS BIGINT) AS recall_bp
        FROM approx a
        LEFT JOIN exact_topk e ON e.q_id = a.q_id AND e.cand = a.cand
        WHERE a.rank <= {MR_K}
        GROUP BY a.q_id
    )
    SELECT a.q_id, a.rank, a.cand AS vec_id, a.maxsim_fx,
           h.q8sim, r.recall_bp
    FROM approx a
    JOIN shortlist h ON h.q_id = a.q_id AND h.cand = a.cand
    JOIN recall r ON r.q_id = a.q_id
    WHERE a.rank <= {MR_K}
"""


@declared("q_maxsim_rerank", oracle=_MAXSIM_RERANK_ORACLE)
def q_maxsim_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED PRODUCTION RETRIEVAL PATH (VERDICT r12 #3 — the plan
    q_maxsim_topk's scale notes promised): stage 1 scores every candidate
    with the COMPRESSED late interaction — MaxSim over int8 per-slice
    codes ({MR_LEVELS}-level symmetric scalar quantization, the
    q_quant_sweep construction applied per slice: 4x smaller than the
    fixed-point vectors, the PLAID/ColBERTv2 compressed-score stage) —
    and keeps the top-{MR_M}; stage 2 re-ranks ONLY those survivors with
    the exact fixed-point MaxSim (q_maxsim_topk's scorer) to top-{MR_K};
    the recall of the composed path vs the BRUTE-FORCE exact MaxSim
    top-{MR_K} rides beside every row as recall_bp — hash-verified, so
    the two-stage story (compressed index admits, exact scorer decides)
    is MEASURED, not asserted. Design-choice note: a 1-bit whole-vector
    Hamming stage 1 (q_binary_ann's index) was prototyped first and
    MEASURED unusable for MaxSim (recall 0.0-0.4 at M=16..256 at sf0.01 —
    whole-vector signs wash out the per-slice max structure); the int8
    slice codes read 0.8-1.0 at M={MR_M} — which is why the composed
    path quantizes the same structure it scores. Mirrors q_pq_rerank's
    shortlist-then-exact shape with MaxSim as the exact scorer.

    Engine-exactness: slice units are the round12 _MS_U_SQL arithmetic
    (zero-norm slices guarded to 0); int8 codes are FLOOR(xi * scale +
    0.5) with scale = {MR_LEVELS}/max|xi| per (vec, slice) — one IEEE
    quotient, the q_quant_sweep contract; both MaxSim passes are MAX/SUM
    over BIGINT dots; every rank tie breaks on candidate id; recall_bp
    floor-divides.

    Scale notes (100 TB): stage 1 touches ONLY the int8 codes — 64
    bytes/vector kept hot (4x less scan bandwidth than the fixed-point
    vectors, the entire reason the stage exists); its output is a narrow
    (q_id, cand, q8sim) census. Stage 2 fetches full-precision slice
    units for |Q| x {MR_M} shortlisted ids via a broadcast semi-join, so
    the exact interaction runs on a bounded frame regardless of corpus
    size. The brute-force exact side exists as the recall audit (the
    q_binary_ann ground-truth idiom); production serves the two-stage
    path alone and pays the measured recall_bp."""
    t = load_tables(spark, sf_dir)
    su = maxsim_slice_units(t.embeddings)
    # Stage the slice units to parquet scratch (the r10 staged-scratch
    # idiom): five branches (int8 codes + their query side, the exact
    # re-rank, the brute-force audit, the query slices) consume su —
    # inlined, each re-scanned embeddings and re-derived the units;
    # staged, the normalization runs once and every branch scans the
    # (vec_id, s, u) BIGINT summary. Bit-exact round-trip.
    su_path = scratch_dir("mr_su", sf_dir)
    su.write.mode("overwrite").parquet(su_path)
    su = spark.read.parquet(su_path)
    # int8 stage-1 codes from the same slice units the exact pass scores
    q8 = su.select(
        "vec_id",
        "s",
        F.expr(
            "array_max(transform(u, v -> abs(v)))"
        ).alias("mabs"),
        "u",
    ).select(
        "vec_id",
        "s",
        F.expr(
            f"transform(u, v -> CAST(FLOOR(CAST(v AS DOUBLE)"
            f" * (CASE WHEN mabs = 0 THEN 0.0D"
            f" ELSE CAST({MR_LEVELS} AS DOUBLE)"
            f" / CAST(mabs AS DOUBLE) END)"
            f" + 0.5) AS BIGINT))"
        ).alias("c8"),
    )
    q8q = F.broadcast(
        q8.filter(F.col("vec_id") < MR_NQ).select(
            F.col("vec_id").alias("q_id"),
            F.col("s").alias("qs"),
            F.col("c8").alias("qc8"),
        )
    )
    q8score = (
        q8.crossJoin(q8q)
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "qs",
            F.col("vec_id").alias("cand"),
            F.col("s").alias("cs"),
            F.aggregate(
                F.zip_with(F.col("c8"), F.col("qc8"), lambda x, y: x * y),
                F.lit(0).cast("bigint"),
                lambda a, v: a + v,
            ).alias("dot"),
        )
        .groupBy("q_id", "qs", "cand")
        .agg(F.max("dot").alias("best_dot"))
        .groupBy("q_id", "cand")
        .agg(F.sum("best_dot").cast("bigint").alias("q8sim"))
    )
    sw = Window.partitionBy("q_id").orderBy(F.desc("q8sim"), "cand")
    shortlist = (
        q8score.withColumn("srank", F.row_number().over(sw))
        .filter(F.col("srank") <= MR_M)
        .drop("srank")
    )
    qsu = F.broadcast(
        su.filter(F.col("vec_id") < MR_NQ).select(
            F.col("vec_id").alias("q_id"),
            F.col("s").alias("qs"),
            F.col("u").alias("qu"),
        )
    )
    # Stage 2: exact per-slice units only for shortlisted ids.
    cdots = (
        su.join(
            F.broadcast(shortlist),
            su.vec_id == F.col("cand"),
        )
        .join(qsu, "q_id")
        .select(
            "q_id",
            "qs",
            "cand",
            F.col("s").alias("cs"),
            "q8sim",
            F.aggregate(
                F.zip_with(F.col("u"), F.col("qu"), lambda x, y: x * y),
                F.lit(0).cast("bigint"),
                lambda a, v: a + v,
            ).alias("dot"),
        )
    )
    cscore = (
        cdots.groupBy("q_id", "qs", "cand", "q8sim")
        .agg(F.max("dot").alias("best_dot"))
        .groupBy("q_id", "cand", "q8sim")
        .agg(F.sum("best_dot").cast("bigint").alias("maxsim_fx"))
    )
    rw = Window.partitionBy("q_id").orderBy(F.desc("maxsim_fx"), "cand")
    approx = (
        cscore.withColumn("rank", F.row_number().over(rw).cast("bigint"))
        .filter(F.col("rank") <= MR_K)
    )
    # Audit ground truth: brute-force exact MaxSim top-k per query.
    edots = (
        su.crossJoin(qsu)
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "qs",
            F.col("vec_id").alias("e_cand"),
            F.col("s").alias("cs"),
            F.aggregate(
                F.zip_with(F.col("u"), F.col("qu"), lambda x, y: x * y),
                F.lit(0).cast("bigint"),
                lambda a, v: a + v,
            ).alias("dot"),
        )
    )
    escore = (
        edots.groupBy("q_id", "qs", "e_cand")
        .agg(F.max("dot").alias("best_dot"))
        .groupBy("q_id", "e_cand")
        .agg(F.sum("best_dot").cast("bigint").alias("ms"))
    )
    ew = Window.partitionBy("q_id").orderBy(F.desc("ms"), "e_cand")
    exact_topk = (
        escore.withColumn("r", F.row_number().over(ew))
        .filter(F.col("r") <= MR_K)
        .select("q_id", "e_cand")
    )
    recall = (
        approx.join(
            exact_topk,
            (approx.q_id == exact_topk.q_id)
            & (approx.cand == exact_topk.e_cand),
            "left",
        )
        .groupBy(approx.q_id)
        .agg(F.count("e_cand").alias("n_hit"))
        .select(
            F.col("q_id").alias("r_qid"),
            F.expr(f"CAST(10000 * n_hit DIV {MR_K} AS BIGINT)").alias(
                "recall_bp"
            ),
        )
    )
    return approx.join(
        F.broadcast(recall), approx.q_id == recall.r_qid
    ).select(
        "q_id",
        "rank",
        F.col("cand").alias("vec_id"),
        "maxsim_fx",
        "q8sim",
        "recall_bp",
    )


# --------------------------------------------------------------------------
# q_langid — naive-Bayes language identification with bit-length-quantized
# surprisal weights, agreement audited against the shipped labels
# --------------------------------------------------------------------------


_LANGID_ORACLE = """
    WITH w AS (
        SELECT doc_id, lang, doc_id % 2 AS half,
               unnest(string_split(text, ' ')) AS w
        FROM documents
    ), lt AS (
        SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS c
        FROM w WHERE half = 0 GROUP BY lang, w
    ), tl AS (
        SELECT lang, CAST(SUM(c) AS BIGINT) AS t FROM lt GROUP BY lang
    ), vocab AS (
        SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS v
        FROM w WHERE half = 0
    ), lw AS (
        -- per-(lang, word) quantized surprisal weight: floor(log2 of the
        -- add-1-smoothed inverse probability) via the bin-length idiom
        SELECT lt.lang, lt.w,
               CAST(LENGTH(bin((tl.t + vocab.v) // (lt.c + 1))) - 1
                    AS BIGINT) AS q
        FROM lt JOIN tl ON tl.lang = lt.lang CROSS JOIN vocab
    ), unseen AS (
        SELECT tl.lang,
               CAST(LENGTH(bin(tl.t + vocab.v)) - 1 AS BIGINT) AS uq
        FROM tl CROSS JOIN vocab
    ), dist AS (
        SELECT t.doc_id, u.lang,
               CAST(SUM(COALESCE(lw.q, u.uq)) AS BIGINT) AS surp
        FROM (SELECT doc_id, w FROM w WHERE half = 1) t
        CROSS JOIN unseen u
        LEFT JOIN lw ON lw.lang = u.lang AND lw.w = t.w
        GROUP BY t.doc_id, u.lang
    ), pred AS (
        SELECT doc_id, lang AS pred
        FROM (SELECT doc_id, lang,
                     ROW_NUMBER() OVER (PARTITION BY doc_id
                                        ORDER BY surp, lang) AS r
              FROM dist)
        WHERE r = 1
    ), conf AS (
        SELECT t.lang, p.pred, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM (SELECT doc_id, lang FROM documents WHERE doc_id % 2 = 1) t
        JOIN pred p ON p.doc_id = t.doc_id
        GROUP BY t.lang, p.pred
    ), agree AS (
        SELECT lang,
               CAST(SUM(n_docs) AS BIGINT) AS lang_docs,
               CAST(SUM(CASE WHEN lang = pred THEN n_docs ELSE 0 END)
                    AS BIGINT) AS n_correct,
               CAST(10000 * SUM(CASE WHEN lang = pred THEN n_docs
                                     ELSE 0 END)
                    // SUM(n_docs) AS BIGINT) AS agree_bp
        FROM conf GROUP BY lang
    )
    SELECT c.lang, c.pred, c.n_docs, a.lang_docs, a.n_correct, a.agree_bp
    FROM conf c JOIN agree a ON a.lang = c.lang
"""


@declared("q_langid", oracle=_LANGID_ORACLE)
def q_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LANGUAGE-ID INFERENCE (VERDICT r12 #4 — the one curation stage the
    corpus consumed as a given column instead of computing): add-1-
    smoothed unigram naive Bayes, fully integer via the q_surprisal
    bit-length idiom. TRAIN (even doc_ids, labels visible): per-language
    word counts c and totals T; the per-(lang, word) weight is the
    QUANTIZED SURPRISAL floor(log2((T_lang + V) // (c + 1))) — V the
    train vocabulary size — with the unseen-word weight floor(log2(T_lang
    + V)). SCORE (odd doc_ids, labels hidden): per document and language,
    the summed surprisal of its tokens; the language with the SMALLEST
    total wins (ties break lang ASC). The readout is the confusion matrix
    (true lang x predicted) with per-true-language agreement vs the
    shipped documents.lang — the audit column VERDICT asked for.

    Corpus regime note (the q_topk_bounds honesty rule): the synthetic
    corpus draws every language's text from the SAME closed 31-word
    distribution, so its lang labels are statistically near-independent
    of the text — measured ceiling across classifier families at sf0.01:
    float-log NB 0.24, Cavnar-Trenkle rank profiles 0.21, bigram NB 0.26,
    this quantized NB 0.43 (vs 0.44 majority class) — the quantized
    model correctly collapses toward the prior when the likelihoods
    carry no signal, and agree_bp REPORTS that honestly. The classifier
    itself (profiles genuinely separated => near-perfect argmin) is
    pinned by a planted-signal pure-Python fixture in
    tests/test_round13_ops.py; on natural text the same operator runs
    over character n-grams — only the token column changes.

    Engine-exactness: integer counts, bin-length quantized logs (the
    established LENGTH(bin(x)) - 1 = floor(log2 x) contract), COALESCE
    to the per-language unseen weight, argmin ties break lang ASC,
    agreement floor-divided bp.

    Scale notes (100 TB): the MODEL (per-language word weights) is
    vocab-sized (Heaps-bounded: ~10^7-10^8 terms) — BROADCAST, the
    giant-corpus x tiny-model inference pattern; training is one
    (lang, word) aggregate — map-side-combined, text reduced to 32-byte-
    max terms at the scan. Scoring is one broadcast join + one
    doc_id-keyed aggregate — the corpus never self-joins, documents
    never shuffle. The argmin is a per-doc window over |langs| rows."""
    t = load_tables(spark, sf_dir)
    w = t.documents.select(
        "doc_id",
        "lang",
        (F.col("doc_id") % 2).alias("half"),
        F.explode(F.split("text", " ")).alias("w"),
    )
    lt = (
        w.filter(F.col("half") == 0)
        .groupBy("lang", "w")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    # Stage the vocab-sized (lang, w, c) train census (the r10
    # staged-scratch idiom): tl, vocab and the weight table all derive
    # from lt — inlined, each re-exploded the training corpus; staged,
    # the corpus is tokenized once for training and the model builds
    # from the summary. Bit-exact round-trip (BIGINT + strings).
    lt_path = scratch_dir("lid_lt", sf_dir)
    lt.write.mode("overwrite").parquet(lt_path)
    lt = spark.read.parquet(lt_path)
    tl = lt.groupBy("lang").agg(F.sum("c").cast("bigint").alias("t"))
    # train vocabulary size == distinct words in the census (every train
    # token lands in some (lang, w) row) — derived from the staged
    # summary, not a third corpus scan
    vocab = lt.agg(F.countDistinct("w").cast("bigint").alias("v"))
    lw = (
        lt.join(F.broadcast(tl), "lang")
        .crossJoin(F.broadcast(vocab))
        .select(
            F.col("lang").alias("p_lang"),
            F.col("w").alias("p_w"),
            (F.length(F.bin(F.expr("(t + v) div (c + 1)"))) - 1)
            .cast("bigint")
            .alias("q"),
        )
    )
    unseen = tl.crossJoin(F.broadcast(vocab)).select(
        F.col("lang").alias("u_lang"),
        (F.length(F.bin(F.expr("t + v"))) - 1).cast("bigint").alias("uq"),
    )
    dist = (
        w.filter(F.col("half") == 1)
        .select("doc_id", "w")
        .crossJoin(F.broadcast(unseen))
        .join(
            F.broadcast(lw),
            (F.col("p_lang") == F.col("u_lang")) & (F.col("p_w") == F.col("w")),
            "left",
        )
        .groupBy("doc_id", "u_lang")
        .agg(
            F.sum(F.coalesce(F.col("q"), F.col("uq")))
            .cast("bigint")
            .alias("surp")
        )
    )
    pw = Window.partitionBy("doc_id").orderBy("surp", "u_lang")
    pred = (
        dist.withColumn("r", F.row_number().over(pw))
        .filter(F.col("r") == 1)
        .select("doc_id", F.col("u_lang").alias("pred"))
    )
    truth = t.documents.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", "lang"
    )
    conf = (
        truth.join(pred, "doc_id")
        .groupBy("lang", "pred")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
    )
    agree = conf.groupBy(F.col("lang").alias("a_lang")).agg(
        F.sum("n_docs").cast("bigint").alias("lang_docs"),
        F.sum(F.when(F.col("lang") == F.col("pred"), F.col("n_docs")).otherwise(0))
        .cast("bigint")
        .alias("n_correct"),
    ).select(
        "a_lang",
        "lang_docs",
        "n_correct",
        F.expr("CAST(10000 * n_correct DIV lang_docs AS BIGINT)").alias(
            "agree_bp"
        ),
    )
    return conf.join(
        F.broadcast(agree), conf.lang == agree.a_lang
    ).select("lang", "pred", "n_docs", "lang_docs", "n_correct", "agree_bp")


# --------------------------------------------------------------------------
# q_quality_score — in-plan linear quality classifier: hashed token-count
# features, integer centroid-difference weights trained against the
# quality-gate verdict, model-vs-gate agreement audited per source
# --------------------------------------------------------------------------

QSC_NB = 32  # hashed feature buckets (q_feature_hashing idiom)
QSC_FX = 1_000_000  # fixed-point scale for per-bucket rates


_QUALITY_SCORE_ORACLE = f"""
    WITH w AS (
        SELECT doc_id, source, doc_id % 2 AS half,
               unnest(string_split(text, ' ')) AS w
        FROM documents
    ), freq AS (
        SELECT w, COUNT(*) AS n FROM w GROUP BY w
    ), tot AS (
        SELECT COUNT(*) AS total FROM w
    ), per_doc AS (
        SELECT w.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_words,
               CAST(COUNT(DISTINCT w.w) AS BIGINT) AS n_distinct,
               CAST(SUM(LENGTH(bin(t.total // f.n)) - 1) AS BIGINT) AS sum_q
        FROM w JOIN freq f ON w.w = f.w CROSS JOIN tot t
        GROUP BY w.doc_id
    ), label AS (
        -- the q_quality_gate keep verdict (same thresholds, same
        -- whole-corpus frequency table) as the training target
        SELECT doc_id,
               CASE WHEN n_words >= {GATE_MIN_WORDS}
                     AND n_distinct * {GATE_DISTINCT_DEN}
                         >= {GATE_DISTINCT_NUM} * n_words
                     AND sum_q >= {GATE_LOW_BITS} * n_words
                     AND sum_q <= {GATE_HIGH_BITS} * n_words
                    THEN 1 ELSE 0 END AS keep
        FROM per_doc
    ), hx AS (
        SELECT doc_id, source, half, md5('qsc|' || w) AS h FROM w
    ), tok AS (
        SELECT doc_id, source, half,
               ({_hex_to_int_sql("h", 8)}) % {QSC_NB} AS b
        FROM hx
    ), bt AS (
        SELECT t.b,
               CAST(COUNT(*) FILTER (l.keep = 1) AS BIGINT) AS ck,
               CAST(COUNT(*) FILTER (l.keep = 0) AS BIGINT) AS cd
        FROM tok t JOIN label l ON l.doc_id = t.doc_id
        WHERE t.half = 0
        GROUP BY t.b
    ), tots AS (
        SELECT CAST(GREATEST(SUM(ck), 1) AS BIGINT) AS tk,
               CAST(GREATEST(SUM(cd), 1) AS BIGINT) AS td
        FROM bt
    ), wt AS (
        SELECT b,
               CAST(({QSC_FX} * ck) // (SELECT tk FROM tots)
                    - ({QSC_FX} * cd) // (SELECT td FROM tots)
                    AS BIGINT) AS wgt
        FROM bt
    ), x AS (
        SELECT doc_id, source, b, CAST(COUNT(*) AS BIGINT) AS x
        FROM tok WHERE half = 1 GROUP BY doc_id, source, b
    ), scored AS (
        SELECT x.doc_id, x.source,
               CAST(SUM(x.x * COALESCE(wt.wgt, 0)) AS BIGINT) AS score
        FROM x LEFT JOIN wt ON wt.b = x.b
        GROUP BY x.doc_id, x.source
    ), verdict AS (
        SELECT s.source, s.score,
               CASE WHEN s.score >= 0 THEN 1 ELSE 0 END AS pred_keep,
               l.keep AS label_keep
        FROM scored s JOIN label l ON l.doc_id = s.doc_id
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(label_keep) AS BIGINT) AS n_label_keep,
           CAST(SUM(pred_keep) AS BIGINT) AS n_pred_keep,
           CAST(SUM(CASE WHEN pred_keep = label_keep THEN 1 ELSE 0 END)
                AS BIGINT) AS n_agree,
           CAST(10000 * SUM(CASE WHEN pred_keep = label_keep
                                 THEN 1 ELSE 0 END)
                // COUNT(*) AS BIGINT) AS agree_bp,
           CAST(SUM(score) AS BIGINT) AS sum_score
    FROM verdict GROUP BY source
"""


@declared("q_quality_score", oracle=_QUALITY_SCORE_ORACLE)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-PLAN LINEAR QUALITY CLASSIFIER (VERDICT r12 #5 — the fastText/
    logreg-shaped, model-based complement to q_gopher_repetition's
    heuristics), Rocchio/nearest-centroid style and fully integer:
    FEATURES are hashed token counts (md5-derived bucket h(w) mod
    {QSC_NB}, the q_feature_hashing idiom); the TRAINING TARGET is the
    q_quality_gate keep verdict (same thresholds, same whole-corpus
    frequency table — distilling the expensive composed heuristic into a
    cheap linear model, the standard production move); WEIGHTS are
    per-bucket fixed-point rate differences between keep-mass and
    drop-mass on the labeled half (even doc_ids): wgt_b =
    {QSC_FX}*ck_b//Tk - {QSC_FX}*cd_b//Td; INFERENCE on the held-out half
    (odd doc_ids) is one integer dot product sum_b x_b * wgt_b with keep
    predicted at score >= 0 (the rate-difference threshold is
    length-scale-invariant). The per-source readout audits the model
    AGAINST the gate on held-out docs: predicted vs labeled keeps,
    agreement bp, and the score mass — the composed keep-verdict
    consistency VERDICT asked for, hash-verified.

    Corpus regime note (the q_topk_bounds honesty rule): the gate label
    is a function of per-doc SHAPE statistics (length, distinct ratio,
    a two-sided surprisal band) that bag-of-hashed-token-count features
    cannot express over a closed 31-word vocabulary — measured at
    sf0.01: 54% held-out agreement vs a 58% majority floor (bucketed
    quantized-NB reads 55%, word-level 53% — the ceiling is the feature
    family, not the weight rule). That readout is the FIRST number every
    distillation pipeline computes — can a cheap linear scorer replace
    the exact gate? here the measured answer is NO, keep running the
    gate — and this query ships the measurement, not a pretense. The
    training machinery itself (token-separable labels => near-perfect
    held-out agreement) is pinned by a planted-signal pure-Python
    fixture in tests/test_round13_ops.py.

    Engine-exactness: bucket ids are md5-derived integers mod {QSC_NB}
    (non-negative); weights and scores are integer with GREATEST(.., 1)
    guards on the label-class totals; scores CAN go negative — no
    division touches them (sums only), so the Spark/DuckDB negative-DIV
    corner never arises; agreement floor-divides non-negatives.

    Scale notes (100 TB): the MODEL is {QSC_NB} weights — broadcast (the
    inference pattern: giant corpus x tiny model); featurization is
    map-side (md5 mod B per token, then a (doc, bucket) count partitioned
    by doc_id); training is one (bucket, label) aggregate over the
    labeled half — {QSC_NB}-row output regardless of corpus size. The
    gate-label side reuses q_quality_gate's plan shape (one explode, a
    vocab-sized broadcast frequency join). Text never shuffles — tokens
    reduce to bucket ids at the scan."""
    t = load_tables(spark, sf_dir)
    w = t.documents.select(
        "doc_id",
        "source",
        (F.col("doc_id") % 2).alias("half"),
        F.explode(F.split("text", " ")).alias("w"),
    )
    freq = w.groupBy("w").agg(F.count("*").alias("n"))
    tot = freq.agg(F.sum("n").alias("total"))
    q = (F.length(F.bin(F.expr("total div n"))) - 1).cast("bigint")
    per_doc = (
        w.join(F.broadcast(freq), "w")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_words"),
            F.countDistinct("w").cast("bigint").alias("n_distinct"),
            F.sum(q).cast("bigint").alias("sum_q"),
        )
    )
    label = per_doc.select(
        F.col("doc_id").alias("l_doc"),
        F.when(
            (F.col("n_words") >= GATE_MIN_WORDS)
            & (
                F.col("n_distinct") * GATE_DISTINCT_DEN
                >= GATE_DISTINCT_NUM * F.col("n_words")
            )
            & (F.col("sum_q") >= GATE_LOW_BITS * F.col("n_words"))
            & (F.col("sum_q") <= GATE_HIGH_BITS * F.col("n_words")),
            1,
        )
        .otherwise(0)
        .alias("keep"),
    )
    tok = w.select(
        "doc_id",
        "source",
        "half",
        F.expr(
            f"CAST(conv(substr(md5(concat('qsc|', w)), 1, 8), 16, 10)"
            f" AS BIGINT) % {QSC_NB}"
        ).alias("b"),
    )
    # Stage the doc-sized gate labels and the narrow bucketed token
    # stream (the r10 staged-scratch idiom): label is consumed by both
    # the trainer and the verdict join (inlined, each re-ran the whole
    # gate lineage — corpus explode + frequency join), tok by both
    # halves (each re-exploded + re-hashed the corpus). Staged, the
    # corpus is tokenized/hashed once and labeled once. Bit-exact
    # round-trip (BIGINT + strings).
    label_path = scratch_dir("qsc_label", sf_dir)
    label.write.mode("overwrite").parquet(label_path)
    label = spark.read.parquet(label_path)
    tok_path = scratch_dir("qsc_tok", sf_dir)
    tok.write.mode("overwrite").parquet(tok_path)
    tok = spark.read.parquet(tok_path)
    bt = (
        tok.filter(F.col("half") == 0)
        .join(F.broadcast(label), F.col("doc_id") == F.col("l_doc"))
        .groupBy("b")
        .agg(
            F.count(F.when(F.col("keep") == 1, 1)).cast("bigint").alias("ck"),
            F.count(F.when(F.col("keep") == 0, 1)).cast("bigint").alias("cd"),
        )
    )
    tots = F.broadcast(
        bt.agg(
            F.greatest(F.sum("ck"), F.lit(1)).cast("bigint").alias("tk"),
            F.greatest(F.sum("cd"), F.lit(1)).cast("bigint").alias("td"),
        )
    )
    wt = bt.crossJoin(tots).select(
        F.col("b").alias("w_b"),
        F.expr(
            f"CAST(({QSC_FX} * ck) DIV tk - ({QSC_FX} * cd) DIV td"
            " AS BIGINT)"
        ).alias("wgt"),
    )
    x = (
        tok.filter(F.col("half") == 1)
        .groupBy("doc_id", "source", "b")
        .agg(F.count("*").cast("bigint").alias("x"))
    )
    scored = (
        x.join(F.broadcast(wt), x.b == F.col("w_b"), "left")
        .groupBy("doc_id", "source")
        .agg(
            F.sum(F.col("x") * F.coalesce(F.col("wgt"), F.lit(0)))
            .cast("bigint")
            .alias("score")
        )
    )
    verdict = scored.join(
        F.broadcast(label), scored.doc_id == F.col("l_doc")
    ).select(
        "source",
        "score",
        F.when(F.col("score") >= 0, 1).otherwise(0).alias("pred_keep"),
        F.col("keep").alias("label_keep"),
    )
    return verdict.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("label_keep").cast("bigint").alias("n_label_keep"),
        F.sum("pred_keep").cast("bigint").alias("n_pred_keep"),
        F.sum(F.when(F.col("pred_keep") == F.col("label_keep"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_agree"),
        F.expr(
            "CAST(10000 * SUM(CASE WHEN pred_keep = label_keep"
            " THEN 1 ELSE 0 END) DIV COUNT(*) AS BIGINT)"
        ).alias("agree_bp"),
        F.sum("score").cast("bigint").alias("sum_score"),
    )


# --------------------------------------------------------------------------
# q_maxsim_sweep — the shortlist-size operating curve of the two-stage
# compressed-MaxSim path (the house knob-curve rule)
# --------------------------------------------------------------------------

MSW_MS = (4, 8, 16, 32)  # stage-1 shortlist sizes swept
MSW_K = 5  # exact top-k recalled against (q_maxsim_rerank's MR_K)


_MAXSIM_SWEEP_ORACLE = f"""
    WITH ex AS (
        SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings
    ), exq0 AS (
        SELECT vec_id, i, CAST(ROUND(x * {FX_SCALE}) AS BIGINT) AS xi0
        FROM ex
    ), {_MR_SLICE_SQL}, mx AS (
        SELECT vec_id, s, CAST(MAX(ABS(xi)) AS BIGINT) AS mabs
        FROM su GROUP BY vec_id, s
    ), q8 AS (
        SELECT s2.vec_id, s2.s, s2.li,
               CAST(FLOOR(CAST(s2.xi AS DOUBLE)
                          * (CASE WHEN m.mabs = 0 THEN 0.0
                                  ELSE {MR_LEVELS}.0
                                       / CAST(m.mabs AS DOUBLE) END)
                          + 0.5) AS BIGINT) AS qi
        FROM su s2 JOIN mx m ON m.vec_id = s2.vec_id AND m.s = s2.s
    ), q8q AS (
        SELECT vec_id AS q_id, s AS qs, li, qi FROM q8
        WHERE vec_id < {MR_NQ}
    ), q8dots AS (
        SELECT qq.q_id, qq.qs, c.vec_id AS cand, c.s AS cs,
               CAST(SUM(qq.qi * c.qi) AS BIGINT) AS dot
        FROM q8 c JOIN q8q qq ON qq.li = c.li AND c.vec_id <> qq.q_id
        GROUP BY qq.q_id, qq.qs, c.vec_id, c.s
    ), q8rank AS (
        SELECT q_id, cand,
               CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                                       ORDER BY q8sim DESC, cand)
                    AS BIGINT) AS srank
        FROM (SELECT q_id, cand, CAST(SUM(best_dot) AS BIGINT) AS q8sim
              FROM (SELECT q_id, qs, cand, MAX(dot) AS best_dot
                    FROM q8dots GROUP BY q_id, qs, cand)
              GROUP BY q_id, cand)
    ), qsu AS (
        SELECT vec_id AS q_id, s AS qs, li, xi FROM su
        WHERE vec_id < {MR_NQ}
    ), edots AS (
        SELECT uq.q_id, uq.qs, uc.vec_id AS cand, uc.s AS cs,
               CAST(SUM(uq.xi * uc.xi) AS BIGINT) AS dot
        FROM su uc JOIN qsu uq ON uq.li = uc.li AND uc.vec_id <> uq.q_id
        GROUP BY uq.q_id, uq.qs, uc.vec_id, uc.s
    ), exact_topk AS (
        SELECT q_id, cand
        FROM (SELECT q_id, cand,
                     ROW_NUMBER() OVER (PARTITION BY q_id
                                        ORDER BY ms DESC, cand) AS r
              FROM (SELECT q_id, cand, CAST(SUM(best_dot) AS BIGINT) AS ms
                    FROM (SELECT q_id, qs, cand, MAX(dot) AS best_dot
                          FROM edots GROUP BY q_id, qs, cand)
                    GROUP BY q_id, cand))
        WHERE r <= {MSW_K}
    ), hits AS (
        -- stage-2 re-ranks by EXACT MaxSim, so a true top-k member that
        -- reaches the shortlist always survives to the final top-k:
        -- recall@m == |exact top-k  INTERSECT  stage-1 top-m|
        SELECT ms.m, e.q_id,
               CAST(SUM(CASE WHEN r.srank <= ms.m THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_hit
        FROM exact_topk e
        JOIN q8rank r ON r.q_id = e.q_id AND r.cand = e.cand
        CROSS JOIN (VALUES {", ".join(f"({m})" for m in MSW_MS)}) AS ms(m)
        GROUP BY ms.m, e.q_id
    )
    SELECT CAST(m AS BIGINT) AS m,
           CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST(10000 * SUM(n_hit) // ({MSW_K} * COUNT(*)) AS BIGINT)
               AS mean_recall_bp,
           CAST(10000 * MIN(n_hit) // {MSW_K} AS BIGINT) AS min_recall_bp
    FROM hits GROUP BY m
"""


@declared("q_maxsim_sweep", oracle=_MAXSIM_SWEEP_ORACLE)
def q_maxsim_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SHORTLIST-SIZE OPERATING CURVE of the two-stage compressed-
    MaxSim path (the house knob-curve rule: every approximate structure
    ships its curve — q_nprobe_sweep for IVF, q_binary_sweep for 1-bit,
    q_lsh_sweep for banding, q_simhash_sweep for radius, q_quant_sweep
    for bits/dim — now stage-1 M for late interaction): per shortlist
    size m in {MSW_MS}, the recall of q_maxsim_rerank's composed path
    against the exact MaxSim top-{MSW_K}, ALL m from ONE stage-1 census
    (the q_lsh_sweep multi-config idiom — the int8 interaction and the
    exact truth are each computed once; the sweep is a VALUES fan-out
    over the tiny rank census). This is the table that PRICES
    q_maxsim_rerank's M={MR_M} choice instead of asserting it.

    Recall identity (why no per-m re-rank is needed): stage 2 re-ranks
    by the EXACT MaxSim score, and exact top-{MSW_K} members outrank
    every other shortlist member under that score — so a true top-k
    member survives to the final top-k IFF stage 1 admitted it:
    recall@m == |exact top-k INTERSECT stage-1 top-m|. The pure-Python
    replay in tests/test_round13_ops.py runs the LITERAL two-stage path
    per m and asserts the identity.

    Engine-exactness: same int8/fixed-point arithmetic as
    q_maxsim_rerank (one IEEE quotient per (vec, slice), BIGINT dots),
    rank ties on candidate id, floor-divided recall bp.

    Scale notes (100 TB): identical physics to q_maxsim_rerank — int8
    codes are the only corpus-wide touch, both censuses are narrow
    (q_id, cand, score) frames, and the sweep itself runs on
    |Q| x k x |Ms| rows. The exact side is the audit; production picks
    m off this curve and runs stage 1 + bounded stage 2 only."""
    t = load_tables(spark, sf_dir)
    su = maxsim_slice_units(t.embeddings)
    su_path = scratch_dir("msw_su", sf_dir)
    su.write.mode("overwrite").parquet(su_path)
    su = spark.read.parquet(su_path)
    q8 = su.select(
        "vec_id",
        "s",
        F.expr("array_max(transform(u, v -> abs(v)))").alias("mabs"),
        "u",
    ).select(
        "vec_id",
        "s",
        F.expr(
            f"transform(u, v -> CAST(FLOOR(CAST(v AS DOUBLE)"
            f" * (CASE WHEN mabs = 0 THEN 0.0D"
            f" ELSE CAST({MR_LEVELS} AS DOUBLE)"
            f" / CAST(mabs AS DOUBLE) END)"
            f" + 0.5) AS BIGINT))"
        ).alias("c8"),
    )
    q8q = F.broadcast(
        q8.filter(F.col("vec_id") < MR_NQ).select(
            F.col("vec_id").alias("q_id"),
            F.col("s").alias("qs"),
            F.col("c8").alias("qc8"),
        )
    )
    q8rank = (
        q8.crossJoin(q8q)
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "qs",
            F.col("vec_id").alias("cand"),
            F.aggregate(
                F.zip_with(F.col("c8"), F.col("qc8"), lambda x, y: x * y),
                F.lit(0).cast("bigint"),
                lambda a, v: a + v,
            ).alias("dot"),
        )
        .groupBy("q_id", "qs", "cand")
        .agg(F.max("dot").alias("best_dot"))
        .groupBy("q_id", "cand")
        .agg(F.sum("best_dot").cast("bigint").alias("q8sim"))
        .withColumn(
            "srank",
            F.row_number()
            .over(Window.partitionBy("q_id").orderBy(F.desc("q8sim"), "cand"))
            .cast("bigint"),
        )
        .select("q_id", "cand", "srank")
    )
    qsu = F.broadcast(
        su.filter(F.col("vec_id") < MR_NQ).select(
            F.col("vec_id").alias("q_id"),
            F.col("s").alias("qs"),
            F.col("u").alias("qu"),
        )
    )
    exact_topk = (
        su.crossJoin(qsu)
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "qs",
            F.col("vec_id").alias("e_cand"),
            F.aggregate(
                F.zip_with(F.col("u"), F.col("qu"), lambda x, y: x * y),
                F.lit(0).cast("bigint"),
                lambda a, v: a + v,
            ).alias("dot"),
        )
        .groupBy("q_id", "qs", "e_cand")
        .agg(F.max("dot").alias("best_dot"))
        .groupBy("q_id", "e_cand")
        .agg(F.sum("best_dot").cast("bigint").alias("ms"))
        .withColumn(
            "r",
            F.row_number().over(
                Window.partitionBy("q_id").orderBy(F.desc("ms"), "e_cand")
            ),
        )
        .filter(F.col("r") <= MSW_K)
        .select("q_id", "e_cand")
    )
    import pandas as pd

    ms = F.broadcast(
        spark.createDataFrame(pd.DataFrame({"m": list(MSW_MS)}))
    )
    hits = (
        exact_topk.join(
            q8rank,
            (exact_topk.q_id == q8rank.q_id)
            & (exact_topk.e_cand == q8rank.cand),
        )
        .select(exact_topk.q_id, "srank")
        .crossJoin(ms)
        .groupBy("m", "q_id")
        .agg(
            F.sum(F.when(F.col("srank") <= F.col("m"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_hit")
        )
    )
    return hits.groupBy("m").agg(
        F.count("*").cast("bigint").alias("n_queries"),
        F.expr(
            f"CAST(10000 * SUM(n_hit) DIV ({MSW_K} * COUNT(*)) AS BIGINT)"
        ).alias("mean_recall_bp"),
        F.expr(f"CAST(10000 * MIN(n_hit) DIV {MSW_K} AS BIGINT)").alias(
            "min_recall_bp"
        ),
    ).select(F.col("m").cast("bigint").alias("m"), "n_queries",
             "mean_recall_bp", "min_recall_bp")


# --------------------------------------------------------------------------
# q_ndcg_eval — graded-relevance retrieval eval with bit-length-quantized
# discounts (the nDCG readout beside q_rank_eval's MRR)
# --------------------------------------------------------------------------

NDCG_K = 8  # graded depth: exact rank r <= K earns relevance K + 1 - r
NDCG_NQ = 8  # query vectors (the q_rank_eval RE_NQ convention)

# Quantized discount W(i) = 10000 // floor(log2(i + 1)) and the ideal DCG
# (relevance grades are the fixed multiset {K..1}, so IDCG is a constant):
_NDCG_W = [10000 // ((i + 1).bit_length() - 1) for i in range(1, NDCG_K + 1)]
NDCG_IDCG = sum(
    (NDCG_K + 1 - i) * _NDCG_W[i - 1] for i in range(1, NDCG_K + 1)
)

_NDCG_ORACLE = f"""
    WITH ex AS (
        SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings
    ), exq0 AS (
        SELECT vec_id, i, CAST(ROUND(x * {FX_SCALE}) AS BIGINT) AS xi0
        FROM ex
    ), norms0 AS (
        SELECT vec_id, SQRT(CAST(SUM(xi0 * xi0) AS DOUBLE)) AS nrm
        FROM exq0 GROUP BY vec_id
    ), u AS (
        SELECT e.vec_id, e.i,
               CAST(ROUND(CAST(e.xi0 AS DOUBLE) / n.nrm * {FX_SCALE})
                    AS BIGINT) AS xi
        FROM exq0 e JOIN norms0 n ON e.vec_id = n.vec_id
    ), mx AS (
        SELECT vec_id, MAX(ABS(x)) AS mabs FROM ex GROUP BY vec_id
    ), q8 AS (
        SELECT e.vec_id, e.i,
               CAST(FLOOR(e.x * (CASE WHEN m.mabs = 0 THEN 0.0
                                      ELSE 127.0 / m.mabs END) + 0.5)
                    AS BIGINT) AS qi
        FROM ex e JOIN mx m ON m.vec_id = e.vec_id
    ), dots AS (
        SELECT uq.vec_id AS q_id, uc.vec_id AS cand,
               CAST(SUM(uq.xi * uc.xi) AS BIGINT) AS dot_fx
        FROM u uq JOIN u uc ON uc.i = uq.i AND uc.vec_id <> uq.vec_id
        WHERE uq.vec_id < {NDCG_NQ}
        GROUP BY uq.vec_id, uc.vec_id
    ), dots8 AS (
        SELECT a.vec_id AS q_id, b.vec_id AS cand,
               CAST(SUM(a.qi * b.qi) AS BIGINT) AS dot8
        FROM q8 a JOIN q8 b ON b.i = a.i AND b.vec_id <> a.vec_id
        WHERE a.vec_id < {NDCG_NQ}
        GROUP BY a.vec_id, b.vec_id
    ), rel AS (
        -- graded relevance off the EXACT ranking: top-{NDCG_K} earn
        -- {NDCG_K}..1, everything deeper 0
        SELECT q_id, cand,
               CAST({NDCG_K} + 1 - r AS BIGINT) AS rel
        FROM (SELECT q_id, cand,
                     ROW_NUMBER() OVER (PARTITION BY q_id
                                        ORDER BY dot_fx DESC, cand) AS r
              FROM dots)
        WHERE r <= {NDCG_K}
    ), sys AS (
        SELECT q_id, cand,
               CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                                       ORDER BY dot8 DESC, cand)
                    AS BIGINT) AS srank
        FROM dots8
    ), dcg AS (
        SELECT s.q_id,
               CAST(SUM(COALESCE(r.rel, 0)
                        * (10000 // (LENGTH(bin(s.srank + 1)) - 1)))
                    AS BIGINT) AS dcg_fx,
               CAST(SUM(CASE WHEN r.cand IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS overlap
        FROM sys s
        LEFT JOIN rel r ON r.q_id = s.q_id AND r.cand = s.cand
        WHERE s.srank <= {NDCG_K}
        GROUP BY s.q_id
    )
    SELECT q_id, dcg_fx,
           CAST({NDCG_IDCG} AS BIGINT) AS idcg_fx,
           CAST(10000 * dcg_fx // {NDCG_IDCG} AS BIGINT) AS ndcg_bp,
           overlap
    FROM dcg
"""


@declared("q_ndcg_eval", oracle=_NDCG_ORACLE)
def q_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRADED-RELEVANCE RETRIEVAL EVAL — the nDCG readout beside
    q_rank_eval's MRR (rank of ONE true NN) and the family's recall_bp
    audits (SET membership at a cutoff): how much of the exact ranking's
    graded order does the int8-quantized ranking preserve in its
    top-{NDCG_K}? Relevance grades come off the EXACT fixed-point-cosine
    ranking (top-{NDCG_K} earn {NDCG_K}..1); the system ranking is the
    int8-dot ordering (q_rank_eval's system); DCG uses BIT-LENGTH-
    QUANTIZED discounts W(i) = 10000 // floor(log2(i+1)) — the
    q_surprisal integer-log2 idiom applied to the position discount, so
    the whole metric is engine-exact integer arithmetic (classical nDCG's
    1/log2(i+1) is irrational; the quantized discount keeps the
    position-decay SHAPE and both engines agree bit-for-bit). IDCG is a
    constant ({NDCG_IDCG}: the grades are always the multiset
    {{{NDCG_K}..1}}), so ndcg_bp = 10000 * DCG // IDCG. Per query:
    dcg_fx, idcg_fx, ndcg_bp, and the top-{NDCG_K} overlap count —
    MRR says where the single best item went, nDCG says how the whole
    graded head survived compression.

    Engine-exactness: int8 codes are the q_rank_eval construction
    (127/max|x|, half-up); dots are BIGINT; discounts are
    LENGTH(bin(srank + 1)) - 1 (floor-log2, >= 1 for srank >= 1 — no
    division-by-zero arm needed); all ranks tie-break on candidate id;
    floor-divided bp.

    Scale notes (100 TB): queries broadcast ({NDCG_NQ} unit vectors +
    {NDCG_NQ} int8 code rows); both score passes are narrow
    (q_id, cand, score) censuses — vectors never shuffle; the DCG join
    runs on |Q| x {NDCG_K} rows. Production scores dots8 from the
    compressed index it already serves (q_embed_quant's 4x path) — the
    eval rides the same scan."""
    t = load_tables(spark, sf_dir)
    from .similarity import _unit_fx_expr

    base = t.embeddings.select(
        "vec_id",
        "embedding",
        _unit_fx_expr().alias("u"),
        F.expr(
            "array_max(transform(embedding, v -> abs(CAST(v AS DOUBLE))))"
        ).alias("mabs"),
    ).select(
        "vec_id",
        "u",
        F.expr(
            "transform(embedding, v -> CAST(FLOOR(CAST(v AS DOUBLE)"
            " * (CASE WHEN mabs = 0 THEN 0.0D ELSE 127.0D / mabs END)"
            " + 0.5) AS BIGINT))"
        ).alias("c8"),
    )
    # Stage the per-vector unit + int8 code frame once (the r10
    # staged-scratch idiom): the exact and int8 censuses plus both query
    # sides otherwise each re-derive it from the embeddings scan.
    base_path = scratch_dir("ndcg_base", sf_dir)
    base.write.mode("overwrite").parquet(base_path)
    base = spark.read.parquet(base_path)
    q = F.broadcast(
        base.filter(F.col("vec_id") < NDCG_NQ).select(
            F.col("vec_id").alias("q_id"),
            F.col("u").alias("qu"),
            F.col("c8").alias("qc8"),
        )
    )
    scored = (
        base.crossJoin(q)
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("cand"),
            F.aggregate(
                F.zip_with(F.col("u"), F.col("qu"), lambda x, y: x * y),
                F.lit(0).cast("bigint"),
                lambda a, v: a + v,
            ).alias("dot_fx"),
            F.aggregate(
                F.zip_with(F.col("c8"), F.col("qc8"), lambda x, y: x * y),
                F.lit(0).cast("bigint"),
                lambda a, v: a + v,
            ).alias("dot8"),
        )
    )
    rel = (
        scored.withColumn(
            "r",
            F.row_number().over(
                Window.partitionBy("q_id").orderBy(F.desc("dot_fx"), "cand")
            ),
        )
        .filter(F.col("r") <= NDCG_K)
        .select(
            F.col("q_id").alias("r_qid"),
            F.col("cand").alias("r_cand"),
            (F.lit(NDCG_K) + 1 - F.col("r")).cast("bigint").alias("rel"),
        )
    )
    sys = scored.select(
        "q_id",
        "cand",
        F.row_number()
        .over(Window.partitionBy("q_id").orderBy(F.desc("dot8"), "cand"))
        .cast("bigint")
        .alias("srank"),
    ).filter(F.col("srank") <= NDCG_K)
    dcg = (
        sys.join(
            F.broadcast(rel),
            (sys.q_id == F.col("r_qid")) & (sys.cand == F.col("r_cand")),
            "left",
        )
        .groupBy("q_id")
        .agg(
            F.sum(
                F.coalesce(F.col("rel"), F.lit(0))
                * F.expr("10000 DIV (LENGTH(bin(srank + 1)) - 1)")
            )
            .cast("bigint")
            .alias("dcg_fx"),
            F.sum(F.when(F.col("r_cand").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("overlap"),
        )
    )
    return dcg.select(
        "q_id",
        "dcg_fx",
        F.lit(NDCG_IDCG).cast("bigint").alias("idcg_fx"),
        F.expr(f"CAST(10000 * dcg_fx DIV {NDCG_IDCG} AS BIGINT)").alias(
            "ndcg_bp"
        ),
        "overlap",
    )
