"""Corpus-sampling operators (Tier-D extension, round 4 cont.): the
selection primitives a pretraining mixture pipeline runs once per-document
scores and per-source budgets exist — per-domain contribution caps,
temperature-scaled mixture allocation, robust length-window filtering, and
integer-exact weighted priority sampling.

House rules apply: md5-threshold / md5-rank hashing for every sampling
decision (deterministic across reruns, executors, and corpus growth — the
property RAND() lacks), integer or correctly-rounded-single-op double
arithmetic only (both engines evaluate the identical expression tree), and
every integer aggregate cast to BIGINT on both sides (the SURVEY §2.C
HUGEINT hazard).

Scale notes (100 TB):
- domain cap: the corpus shuffles (source)-partitioned 3-column rows
  (id, source, 15-hex digest) — never text. Per-source ROW_NUMBER is the
  one rank-global stage; a single mega-domain (the CommonCrawl case) is the
  documented skew point — production escape hatch is a 2-pass approximate
  rank (per-partition histogram of digests → threshold digest → narrow
  filter), which this operator's hash-ordering makes possible precisely
  because the rank key is a uniform digest, not a data value.
- temperature mix: one map-side-combinable per-language aggregate (5–100
  groups), then all mixture arithmetic on the tiny allocation table. The
  corpus is read once and never shuffled.
- length quantile: exact per-language PERCENTILE_DISC is rank-global (it
  shuffles (lang, n_chars) pairs — 2 numbers/doc); the outlier count pass
  broadcasts the 3-threshold-per-language table back. At 100 TB the
  production swap-in is approx_percentile (2-pass, no total sort); exact
  disc is kept here because the oracle gate needs bit-equal thresholds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans.registry import declared
from ..sources.catalog import load_tables
from .textprep import hex_to_int_sql

# --------------------------------------------------------------------------
# Per-domain contribution cap (CommonCrawl-style per-domain doc limits)
# --------------------------------------------------------------------------

CAP_PER_SOURCE = 18  # binds at every SF (testdata has >=25 docs/source)


_DOMAIN_CAP_ORACLE = f"""
    WITH d AS (
        SELECT doc_id, source,
               substr(md5('cap|' || CAST(doc_id AS VARCHAR)), 1, 15) AS hv
        FROM documents
    ), r AS (
        SELECT doc_id, source,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY source ORDER BY hv, doc_id
               ) AS BIGINT) AS rn
        FROM d
    )
    SELECT doc_id, source, rn FROM r WHERE rn <= {CAP_PER_SOURCE}
"""


@declared("q_domain_cap", oracle=_DOMAIN_CAP_ORACLE)
def q_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain contribution cap: keep at most CAP_PER_SOURCE documents
    per source, selected by md5-rank rather than arrival order or RNG —
    the per-domain limit step of a CommonCrawl-style pipeline (no single
    domain may dominate the mixture).

    Determinism: rank key is substr(md5('cap|'||doc_id),1,15) with doc_id
    tiebreak — identical hex in both engines, total order, and a document's
    rank among its domain peers is stable under reruns (though, unlike the
    threshold samplers, a cap rank CAN shift as a domain grows — that is
    the semantics a cap wants: the limit holds, membership re-balances).

    Scale: shuffles (doc_id, source, digest) — 3 narrow columns, never
    text; see module docstring for the mega-domain skew escape hatch."""
    t = load_tables(spark, sf_dir)
    d = t.documents.select(
        "doc_id",
        "source",
        F.substring(
            F.md5(F.concat(F.lit("cap|"), F.col("doc_id").cast("string"))), 1, 15
        ).alias("hv"),
    )
    w = Window.partitionBy("source").orderBy("hv", "doc_id")
    return (
        d.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= CAP_PER_SOURCE)
        .select("doc_id", "source", "rn")
    )


# --------------------------------------------------------------------------
# Temperature-scaled mixture allocation (multilingual-sampling shape)
# --------------------------------------------------------------------------

# tau = 2 => weights proportional to sqrt(natural share): the standard
# temperature trick that up-samples low-resource languages. sqrt is the one
# transcendental that is IEEE-754 correctly rounded, hence bit-equal across
# engines — higher taus (pow(p, 1/tau)) would not be oracle-exact.
W_SCALE = 1_000_000_000_000  # weight fixed-point scale (1e12)
SHARE_SCALE = 1_000_000  # reported share fixed-point scale (1e6)


_TEMP_MIX_ORACLE = f"""
    WITH per_lang AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents GROUP BY lang
    ), tot AS (
        SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total FROM per_lang
    ), wq AS (
        SELECT p.lang, p.n_docs, t.n_total,
               CAST(ROUND(SQRT(CAST(p.n_docs AS DOUBLE) / CAST(t.n_total AS DOUBLE))
                          * {W_SCALE}) AS BIGINT) AS wq
        FROM per_lang p CROSS JOIN tot t
    ), s AS (
        SELECT lang, n_docs, n_total, wq,
               CAST(SUM(wq) OVER () AS BIGINT) AS sum_wq
        FROM wq
    )
    SELECT lang, n_docs, wq,
           CAST((n_total // 2) * wq // sum_wq AS BIGINT) AS target_n,
           CAST(wq * {SHARE_SCALE} // sum_wq AS BIGINT) AS share_fx,
           wq * {SHARE_SCALE} // sum_wq * n_total > {SHARE_SCALE} * n_docs AS upsampled
    FROM s
"""


@declared("q_temperature_mix", oracle=_TEMP_MIX_ORACLE)
def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture allocation (tau=2): each language's
    sampling weight is sqrt of its natural share, re-normalized — the
    standard multilingual-pretraining trick that boosts low-resource
    languages without letting them dominate. Targets are allocated from a
    budget of half the corpus; `upsampled` marks languages whose
    temperature share exceeds their natural share.

    Engine-exactness: n/N division, sqrt, and *1e12 are each a single
    correctly-rounded double op on identical inputs (sqrt is the only
    IEEE-exact transcendental — the reason tau is pinned to 2); the
    rounded weight is then a BIGINT, and every downstream step (sum,
    floor-division shares and targets, the upsampled comparison) is pure
    integer arithmetic — order-independent and bit-equal by construction.

    Scale: one combiner-friendly aggregate over the corpus; all mixture
    math happens on the languages-count-sized table."""
    t = load_tables(spark, sf_dir)
    # persist the languages-sized aggregate: it feeds three plan references
    # (weights, the 1-row total, the weight-sum) — without it each reference
    # re-scans the corpus (pre-ReuseExchange logical shape); with it the
    # corpus is read exactly once (the q_dedup_near persist pattern)
    per_lang = (
        t.documents.groupBy("lang").agg(F.count("*").cast("bigint").alias("n_docs")).persist()
    )
    tot = per_lang.agg(F.sum("n_docs").cast("bigint").alias("n_total"))
    wq = per_lang.crossJoin(F.broadcast(tot)).withColumn(
        "wq",
        F.round(
            F.sqrt(F.col("n_docs").cast("double") / F.col("n_total").cast("double"))
            * W_SCALE
        ).cast("bigint"),
    )
    # global sum via 1-row broadcast (not an unpartitioned window: same
    # result, but keeps the plan free of a move-everything-to-one-partition
    # WindowExec — the allocation table is tiny, the plan shape still
    # matters as the template readers copy)
    s = wq.crossJoin(F.broadcast(wq.agg(F.sum("wq").cast("bigint").alias("sum_wq"))))
    return s.select(
        "lang",
        "n_docs",
        "wq",
        F.expr("CAST((n_total div 2) * wq div sum_wq AS BIGINT)").alias("target_n"),
        F.expr(f"CAST(wq * {SHARE_SCALE} div sum_wq AS BIGINT)").alias("share_fx"),
        F.expr(
            f"wq * {SHARE_SCALE} div sum_wq * n_total > {SHARE_SCALE} * n_docs"
        ).alias("upsampled"),
    )


# --------------------------------------------------------------------------
# Robust length-window filter (exact per-language quantile thresholds)
# --------------------------------------------------------------------------

_LEN_QUANTILE_ORACLE = """
    WITH thr AS (
        SELECT lang,
               CAST(PERCENTILE_DISC(0.05) WITHIN GROUP (ORDER BY n_chars) AS BIGINT) AS p05,
               CAST(PERCENTILE_DISC(0.5)  WITHIN GROUP (ORDER BY n_chars) AS BIGINT) AS p50,
               CAST(PERCENTILE_DISC(0.95) WITHIN GROUP (ORDER BY n_chars) AS BIGINT) AS p95
        FROM documents GROUP BY lang
    )
    SELECT d.lang, t.p05, t.p50, t.p95,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN d.n_chars < t.p05 THEN 1 ELSE 0 END) AS BIGINT) AS n_below,
           CAST(SUM(CASE WHEN d.n_chars > t.p95 THEN 1 ELSE 0 END) AS BIGINT) AS n_above
    FROM documents d JOIN thr t ON d.lang = t.lang
    GROUP BY d.lang, t.p05, t.p50, t.p95
"""


@declared("q_len_quantile", oracle=_LEN_QUANTILE_ORACLE)
def q_len_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust length-window filtering: per-language p05/p50/p95 of document
    length via exact PERCENTILE_DISC, plus how many documents each language
    would drop below/above the band — the Gopher-style outlier-length rule
    computed from the corpus's own distribution rather than fixed bounds.

    PERCENTILE_DISC (not _CONT): returns an actual data element, so there
    is no interpolation arithmetic to diverge by an ulp between engines —
    the threshold is exact in both and casts losslessly to BIGINT.

    Scale: thresholds are the rank-global stage (shuffles 2-number rows
    per doc); the count pass broadcasts the per-language threshold table.
    Production swap-in at 100 TB is approx_percentile — see module note."""
    t = load_tables(spark, sf_dir)
    thr = t.documents.groupBy("lang").agg(
        F.expr("CAST(percentile_disc(0.05) WITHIN GROUP (ORDER BY n_chars) AS BIGINT)").alias(
            "p05"
        ),
        F.expr("CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY n_chars) AS BIGINT)").alias(
            "p50"
        ),
        F.expr("CAST(percentile_disc(0.95) WITHIN GROUP (ORDER BY n_chars) AS BIGINT)").alias(
            "p95"
        ),
    )
    return (
        t.documents.join(F.broadcast(thr), "lang")
        .groupBy("lang", "p05", "p50", "p95")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("n_chars") < F.col("p05"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_below"),
            F.sum(F.when(F.col("n_chars") > F.col("p95"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_above"),
        )
    )


# --------------------------------------------------------------------------
# Approximate length quantiles (the documented 100 TB swap-in)
# --------------------------------------------------------------------------


@declared("q_len_quantile_approx", oracle=None)
def q_len_quantile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production form of q_len_quantile at 100 TB: approx_percentile
    (Greenwald-Khanna sketch, relative rank error <= 1/accuracy) replaces
    the exact rank-global PERCENTILE_DISC — mergeable sketch partials flow
    map-side, so there is no total per-language sort no matter how large a
    language gets. Declared rows-only: the sketch's picks are
    engine-internal (DuckDB's approx_quantile is a t-digest — different
    internals, both within their error bounds, no shared oracle); the
    accuracy contract is pinned instead by a rank-error pytest against the
    exact thresholds. The HASH-VERIFIED portable twin is
    sketches.q_quantile_sketch (bucketed mergeable sketch whose error-bound
    certificate vs exact PERCENTILE_DISC is part of the verified result) —
    the q_approx_distinct -> q_hll_registers pattern, closed for quantiles
    in r11."""
    t = load_tables(spark, sf_dir)
    return t.documents.groupBy("lang").agg(
        F.expr("approx_percentile(n_chars, array(0.05, 0.5, 0.95), 10000)").alias("p"),
        F.count("*").cast("bigint").alias("n_docs"),
    ).select(
        "lang",
        F.col("p")[0].cast("bigint").alias("p05"),
        F.col("p")[1].cast("bigint").alias("p50"),
        F.col("p")[2].cast("bigint").alias("p95"),
        "n_docs",
    )


# --------------------------------------------------------------------------
# Winsorized per-language length statistics (robust mean for QC dashboards)
# --------------------------------------------------------------------------

WINSOR_LO = 0.05
WINSOR_HI = 0.95

_WINSORIZE_ORACLE = f"""
    WITH th AS (
        SELECT lang,
               CAST(PERCENTILE_DISC({WINSOR_LO}) WITHIN GROUP (ORDER BY n_chars) AS BIGINT) AS lo,
               CAST(PERCENTILE_DISC({WINSOR_HI}) WITHIN GROUP (ORDER BY n_chars) AS BIGINT) AS hi
        FROM documents GROUP BY lang
    )
    SELECT d.lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           t.lo, t.hi,
           CAST(SUM(d.n_chars) AS BIGINT) AS sum_raw,
           CAST(SUM(LEAST(GREATEST(d.n_chars, t.lo), t.hi)) AS BIGINT) AS sum_win,
           SUM(d.n_chars) * 1e0 / COUNT(*) AS mean_raw,
           SUM(LEAST(GREATEST(d.n_chars, t.lo), t.hi)) * 1e0 / COUNT(*) AS mean_win
    FROM documents d JOIN th t ON d.lang = t.lang
    GROUP BY d.lang, t.lo, t.hi
"""


@declared("q_winsorize", oracle=_WINSORIZE_ORACLE)
def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized per-language length statistics: clamp each document's
    n_chars into its language's [p05, p95] window (thresholds are exact
    PERCENTILE_DISC order statistics — actual data values, both engines
    identical), then report the clamped mean next to the raw mean. The
    robust mean is the QC-dashboard number that a handful of truncated or
    concatenated crawl pages cannot move — the raw mean can shift by
    percents from one 100 MB pathological page.

    Engine-exactness: integer thresholds, integer clamping, BIGINT sums;
    the only doubles are the two final single divisions (1e0 idiom).

    Scale notes (100 TB): pass 1 is the q_len_quantile rank-global
    PERCENTILE_DISC (production swap-in: approx_percentile — module note);
    pass 2 broadcasts the per-language threshold table back and is one
    combiner aggregate. The corpus never carries more than (lang, n_chars)
    through a shuffle."""
    t = load_tables(spark, sf_dir)
    th = t.documents.groupBy("lang").agg(
        F.expr(
            f"CAST(percentile_disc({WINSOR_LO}) WITHIN GROUP (ORDER BY n_chars) AS BIGINT)"
        ).alias("lo"),
        F.expr(
            f"CAST(percentile_disc({WINSOR_HI}) WITHIN GROUP (ORDER BY n_chars) AS BIGINT)"
        ).alias("hi"),
    )
    clamped = t.documents.join(F.broadcast(th), "lang").select(
        "lang",
        "lo",
        "hi",
        F.col("n_chars").cast("bigint").alias("raw"),
        F.expr("LEAST(GREATEST(CAST(n_chars AS BIGINT), lo), hi)").alias("win"),
    )
    return clamped.groupBy("lang", "lo", "hi").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("raw").cast("bigint").alias("sum_raw"),
        F.sum("win").cast("bigint").alias("sum_win"),
        F.expr("SUM(raw) * 1e0 / COUNT(*)").alias("mean_raw"),
        F.expr("SUM(win) * 1e0 / COUNT(*)").alias("mean_win"),
    ).select("lang", "n_docs", "lo", "hi", "sum_raw", "sum_win", "mean_raw", "mean_win")


# --------------------------------------------------------------------------
# Histogram-sketch quantiles: the ENGINE-EXACT mergeable-quantile path
# --------------------------------------------------------------------------

HISTQ_BIN = 64  # chars per bin


@declared(
    "q_hist_quantile",
    oracle=f"""
    WITH h AS (
        SELECT lang, CAST(n_chars // {HISTQ_BIN} AS BIGINT) AS bin,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM documents GROUP BY 1, 2
    ), c AS (
        SELECT lang, bin, cnt,
               SUM(cnt) OVER (PARTITION BY lang ORDER BY bin) AS cum,
               SUM(cnt) OVER (PARTITION BY lang) AS total
        FROM h
    )
    SELECT lang,
           CAST(MAX(total) AS BIGINT) AS n_docs,
           CAST(MIN(CASE WHEN cum * 100 >= 5 * total THEN bin END)
                * {HISTQ_BIN} AS BIGINT) AS p05_lo,
           CAST(MIN(CASE WHEN cum * 100 >= 50 * total THEN bin END)
                * {HISTQ_BIN} AS BIGINT) AS p50_lo,
           CAST(MIN(CASE WHEN cum * 100 >= 95 * total THEN bin END)
                * {HISTQ_BIN} AS BIGINT) AS p95_lo
    FROM c GROUP BY lang
    """,
)
def q_hist_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic histogram-sketch quantiles — the ENGINE-EXACT twin of
    q_len_quantile_approx (which stays rows-only because Greenwald-Khanna /
    t-digest internals differ per engine): per-language p05/p50/p95 of
    n_chars read off a fixed-width integer histogram. The histogram IS a
    mergeable sketch — per-partition (lang, bin) partial counts combine
    map-side, per-day/per-shard histograms roll up by addition — so this is
    the quantile path that scales when the exact rank-global sort cannot,
    with a bounded, known error (one bin width) instead of a probabilistic
    one. Quantile pick: smallest bin with cum ≥ ⌈q·total⌉, as pure integer
    arithmetic (cum·100 ≥ q%·total — no ceil, no doubles anywhere).

    Scale notes (100 TB): one combiner aggregate to (lang, bin) — rows
    after it are #langs × #bins; the cumulative window runs on THAT tiny
    table, never the corpus."""
    from pyspark.sql.window import Window

    t = load_tables(spark, sf_dir)
    h = (
        t.documents.groupBy(
            "lang", F.expr(f"n_chars div {HISTQ_BIN}").cast("bigint").alias("bin")
        )
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    wc = Window.partitionBy("lang").orderBy("bin").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wt = Window.partitionBy("lang")
    c = h.select(
        "lang",
        "bin",
        F.sum("cnt").over(wc).alias("cum"),
        F.sum("cnt").over(wt).alias("total"),
    )

    def pick(pct: int, name: str) -> F.Column:
        return (
            F.min(
                F.when(F.col("cum") * 100 >= pct * F.col("total"), F.col("bin"))
            )
            * HISTQ_BIN
        ).cast("bigint").alias(name)

    return c.groupBy("lang").agg(
        F.max("total").cast("bigint").alias("n_docs"),
        pick(5, "p05_lo"),
        pick(50, "p50_lo"),
        pick(95, "p95_lo"),
    )


# --------------------------------------------------------------------------
# MAD robust outlier gate (median absolute deviation — heavy-tail safe)
# --------------------------------------------------------------------------

MAD_K = 5  # flag |x - median| > K * MAD

_MAD_ORACLE = f"""
    WITH med AS (
        SELECT lang,
               CAST(PERCENTILE_DISC(0.5) WITHIN GROUP (ORDER BY n_chars)
                    AS BIGINT) AS med
        FROM documents GROUP BY lang
    ), dev AS (
        SELECT d.lang, d.n_chars, m.med,
               ABS(d.n_chars - m.med) AS adev
        FROM documents d JOIN med m ON d.lang = m.lang
    ), mad AS (
        SELECT lang,
               CAST(PERCENTILE_DISC(0.5) WITHIN GROUP (ORDER BY adev)
                    AS BIGINT) AS mad
        FROM dev GROUP BY lang
    )
    SELECT dev.lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           MAX(dev.med) AS median_chars,
           MAX(mad.mad) AS mad_chars,
           CAST(SUM(CASE WHEN dev.adev > {MAD_K} * mad.mad THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers,
           CAST(MAX(CASE WHEN dev.adev > {MAD_K} * mad.mad THEN dev.n_chars END)
                AS BIGINT) AS worst_len
    FROM dev JOIN mad ON dev.lang = mad.lang
    GROUP BY dev.lang
"""


@declared("q_outlier_mad", oracle=_MAD_ORACLE)
def q_outlier_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAD (median-absolute-deviation) outlier gate per language — the
    robust-statistics complement to q_winsorize's percentile clamp and
    q_velocity_anomaly's z-scores: mean/σ are themselves corrupted by the
    heavy tails they're meant to flag, while median ± K·MAD is immune to
    up to 50% contamination — the correct length-outlier gate for a corpus
    where a handful of concatenation-bug megadocuments would inflate σ and
    mask themselves. All arithmetic integer (PERCENTILE_DISC picks an
    actual value; deviations and the K·MAD threshold stay in BIGINT), so
    the DuckDB replay is bit-exact.

    Scale notes (100 TB): two exact medians per group at these SFs;
    production swap-in is approx_percentile for both (the module-header
    trade). The deviations join is keyed by lang against a tiny broadcast
    median table; everything else is map-side-combined aggregation."""
    t = load_tables(spark, sf_dir)
    med = t.documents.groupBy("lang").agg(
        F.expr(
            "CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY n_chars) AS BIGINT)"
        ).alias("med")
    )
    dev = t.documents.join(F.broadcast(med), "lang").select(
        "lang", "n_chars", "med", F.abs(F.col("n_chars") - F.col("med")).alias("adev")
    )
    mad = dev.groupBy("lang").agg(
        F.expr(
            "CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY adev) AS BIGINT)"
        ).alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "lang")
        .groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.max("med").alias("median_chars"),
            F.max("mad").alias("mad_chars"),
            F.sum(
                F.when(F.col("adev") > MAD_K * F.col("mad"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers"),
            F.max(
                F.when(F.col("adev") > MAD_K * F.col("mad"), F.col("n_chars"))
            )
            .cast("bigint")
            .alias("worst_len"),
        )
    )


# --------------------------------------------------------------------------
# q_wsample_priority — Duffield–Lund–Thorup priority sampling, integer-exact
# --------------------------------------------------------------------------

WS_K = 25  # sample size
WS_U_SCALE = 1 << 40  # u quantized to 40 bits: w * 2^40 stays << 2^63

_WSAMPLE_ORACLE = f"""
    WITH v AS (
        SELECT doc_id, source, n_chars AS w,
               CAST({hex_to_int_sql("md5('wpri|' || CAST(doc_id AS VARCHAR))", 10)}
                    AS BIGINT) AS v40
        FROM documents
    ), p AS (
        SELECT doc_id, source, w,
               (w * {WS_U_SCALE}::BIGINT) // (v40 + 1) AS priority
        FROM v
    ), top AS (
        SELECT doc_id, source, w, priority,
               ROW_NUMBER() OVER (ORDER BY priority DESC, doc_id) AS rnk
        FROM p
    ), tau AS (
        -- degenerate guard (ADVICE r11): with n <= k rows the rank-(k+1)
        -- row does not exist; DLT defines est_w = w there, so tau = 0
        -- (GREATEST(w, 0) = w) — COALESCE'd identically on the Spark side
        SELECT COALESCE(
            (SELECT priority FROM top WHERE rnk = {WS_K} + 1), 0) AS tau
    ), tot AS (
        SELECT CAST(SUM(w) AS BIGINT) AS total_w_true FROM p
    ), sample AS (
        SELECT doc_id, source, w, priority,
               CAST(GREATEST(w, (SELECT tau FROM tau)) AS BIGINT) AS est_w
        FROM top WHERE rnk <= {WS_K}
    ), est AS (
        SELECT CAST(SUM(est_w) AS BIGINT) AS total_w_est FROM sample
    )
    SELECT s.doc_id, s.source, CAST(s.w AS BIGINT) AS w, s.priority, s.est_w,
           CAST((SELECT tau FROM tau) AS BIGINT) AS tau,
           (SELECT total_w_true FROM tot) AS total_w_true,
           (SELECT total_w_est FROM est) AS total_w_est,
           CAST(10000 * ABS((SELECT total_w_est FROM est)
                            - (SELECT total_w_true FROM tot))
                // (SELECT total_w_true FROM tot) AS BIGINT) AS err_bp
    FROM sample s
"""


@declared("q_wsample_priority", oracle=_WSAMPLE_ORACLE)
def q_wsample_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRIORITY SAMPLING (Duffield–Lund–Thorup 2007): a weighted sample of
    {WS_K} documents with the unbiased subset-sum estimator, integer-exact.
    Every doc gets priority = floor(w * 2^40 / (v+1)) where v is a 40-bit
    md5-derived uniform (deterministic across reruns/executors — the house
    RAND() replacement) and w = n_chars; the sample is the top-{WS_K} by
    (priority DESC, doc_id); tau = the ({WS_K}+1)-th priority; each sampled
    doc's estimator weight is max(w, tau). The audit columns — true corpus
    weight, estimator total, and err_bp — are hash-verified output, so the
    estimator's quality is pinned, not asserted.

    Engine-exactness: u is an integer (40-bit hex prefix; 16^10 stays in
    DOUBLE-exact BIGINT range for DuckDB's strpos-sum replay); priority is
    one integer floor-division evaluated identically in both engines
    (w <= ~600 so w * 2^40 < 2^50); ties on priority break on doc_id.

    Scale notes (100 TB): priorities are computed map-side from (doc_id,
    n_chars) — the corpus is never shuffled; top-({WS_K}+1) is TakeOrdered
    (per-partition local top then driver merge of k+1 rows — no global
    sort). The downstream tau/estimator derivation is ONE LINEAR CHAIN of
    three ledgered global windows over those k+1 rows (rank; tau = MIN
    priority of the k+1 set; estimator total) — the TakeOrdered corpus
    subtree is instantiated exactly once, not re-run per consumer. The one
    full-corpus aggregate (total_w_true, the audit ground truth) is
    map-side-combined and broadcast back as a 1-row join. This is the
    one-pass weighted-sampling primitive the temperature-mix and
    domain-cap operators (sampling.py) compose with when budgets are
    expressed in tokens rather than documents."""
    t = load_tables(spark, sf_dir)
    p = t.documents.select(
        "doc_id",
        "source",
        F.col("n_chars").cast("bigint").alias("w"),
        F.expr(
            "CAST(conv(substr(md5(concat('wpri|', CAST(doc_id AS STRING))), 1, 10),"
            " 16, 10) AS BIGINT)"
        ).alias("v40"),
    ).select(
        "doc_id",
        "source",
        "w",
        # in-plan overflow guard (the SSD_POS_BIG idiom): w * 2^40 must stay
        # under 2^63, so w < 2^22 is the contract — a corpus with longer
        # documents raises here instead of silently wrapping priorities
        F.expr(
            f"CASE WHEN w >= 0 AND w < {1 << 22}"
            f" THEN (w * CAST({WS_U_SCALE} AS BIGINT)) DIV (v40 + 1)"
            f" ELSE raise_error('priority sample: weight >= 2^22 overflows"
            f" the w * 2^40 priority — rescale WS_U_SCALE') END"
        ).alias("priority"),
    )
    # TakeOrdered top-(k+1): no global window over the corpus.
    top = p.orderBy(F.desc("priority"), "doc_id").limit(WS_K + 1)
    rnk_w = Window.orderBy(F.desc("priority"), "doc_id")  # k+1 rows only
    all_w = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    # tau = the (k+1)-th priority, derivable in the same chain (no second
    # instantiation of the TakeOrdered subtree). Picked by rank — NOT
    # MIN(priority) — so the degenerate n <= k corpus (no rank-(k+1) row)
    # yields tau = 0 ⇒ est_w = GREATEST(w, 0) = w, the DLT definition,
    # matching the oracle's COALESCE (ADVICE r11).
    ranked = (
        top.withColumn("rnk", F.row_number().over(rnk_w))
        .withColumn(
            "tau",
            F.coalesce(
                F.max(
                    F.when(F.col("rnk") == WS_K + 1, F.col("priority"))
                ).over(all_w),
                F.lit(0),
            ).cast("bigint"),
        )
    )
    sample = (
        ranked.filter(F.col("rnk") <= WS_K)
        .withColumn(
            "est_w", F.greatest("w", "tau").cast("bigint")
        )
        .withColumn(
            "total_w_est", F.sum("est_w").over(all_w).cast("bigint")
        )
    )
    tot = p.agg(F.sum("w").cast("bigint").alias("total_w_true"))
    return sample.crossJoin(F.broadcast(tot)).select(
        "doc_id",
        "source",
        "w",
        "priority",
        "est_w",
        "tau",
        "total_w_true",
        "total_w_est",
        F.expr(
            "CAST(10000 * ABS(total_w_est - total_w_true)"
            " DIV total_w_true AS BIGINT)"
        ).alias("err_bp"),
    )
