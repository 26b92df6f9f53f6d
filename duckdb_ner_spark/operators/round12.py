"""Round-12 operators: the Gopher repetition-filter battery, distributed
Bloom-filter membership with an in-plan FPR audit, cluster-aware fold
splitting, term-level release diffing, z-order pruning benefit, retrieval
rank-displacement eval, and RFM feature assembly.

Beyond-reference surface (SURVEY.md §2.D — D35 family): ops a 100 TB
training-data pipeline runs that the corpus did not yet cover:

- q_gopher_repetition — the MassiveText/Gopher INTRA-document repetition
                  signal battery (Rae et al. 2021, Table A1, adapted to the
                  newline-free word-stream corpus): top-2-gram char
                  fraction, duplicated-3-gram char fraction, word-repetition
                  ratio — each in integer basis points — plus the composed
                  keep/drop verdict. The intra-doc complement to the
                  cross-doc dedup family (q_dedup_*, q_template_spectrum).
- q_bloom_dedup — distributed BLOOM-FILTER membership at ingest: the index
                  corpus's template keys hashed into a corpus-sized filter
                  (8 bits/key, k=4), the ingest batch probed against it,
                  and the false-positive rate AUDITED IN-PLAN against exact
                  membership — the have-we-seen-this-before admission test
                  that runs before any expensive near-dup pass.
- q_fold_split  — CLUSTER-AWARE train/val/test assignment: folds are hashed
                  from the exact-dup cluster key (never the doc id), so a
                  duplicate can never straddle folds; the zero-spanning
                  proof is a hash-verified output column (the leakage-free
                  split construction q_leakage audits after the fact).
- q_vocab_diff  — term-level release diff (the vocabulary half of
                  q_corpus_diff's doc-level audit): new / dead / shared
                  term census between two corpus versions plus the top
                  tf movers per class.
- q_zorder_prune — the PRUNING BENEFIT of z-order layout (the readout
                  q_zorder's Morton math feeds): files touched and read
                  amplification for a 2-D range predicate under z-order vs
                  row-major file assignment, both layouts derived in-plan.
- q_rank_eval   — retrieval eval harness: RANK DISPLACEMENT of the exact
                  nearest neighbor under int8 scalar quantization —
                  per-query reciprocal rank (integer bp) of the true-NN in
                  the quantized ranking, the MRR-style readout the recall_bp
                  audits (set membership) don't capture.
- q_rfm_features — RFM feature assembly (recency / frequency / monetary
                  per user, quintile scores from exact PERCENTILE_DISC
                  thresholds, segment label) — the behavioral feature-store
                  build step.

House rules (SURVEY §2.C): integer or single-correctly-rounded-op arithmetic
only, every integer aggregate CAST to BIGINT on both sides, md5-derived
determinism for anything sampled, column aliases identical Spark/DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans.registry import declared
from ..sources.catalog import load_tables
from ..sources.writers import scratch_dir
from .similarity import FX_SCALE, _unit_fx_expr


def _hex_to_int_sql(col: str, n: int) -> str:
    """DuckDB replay of Spark's conv(substr(<hex>,1,n),16,10): positional
    strpos sum over the first n hex digits of an already-computed hex
    column (the q_shard_shuffle idiom; compute the md5 once in a prior CTE
    and pass the COLUMN name here so the digest isn't re-evaluated per
    digit)."""
    return " + ".join(
        f"(strpos('0123456789abcdef', substr({col}, {j + 1}, 1)) - 1)"
        f" * {16 ** (n - 1 - j)}::BIGINT"
        for j in range(n)
    )


# --------------------------------------------------------------------------
# q_gopher_repetition — the MassiveText/Gopher intra-document repetition
# filter battery, integer basis points, composed keep/drop verdict
# --------------------------------------------------------------------------

# Gopher Table A1 thresholds (Rae et al. 2021): drop if the most common
# 2-gram covers > 20% of characters, or duplicated 3-grams cover > 18%.
# n=3 for the duplicated-n-gram signal: the synthetic corpus's 31-word
# vocabulary makes intra-doc duplicate 5-grams vanishingly rare (measured
# 0/500 docs at sf0.01), while 3-grams discriminate (27/500 nonzero, max
# 3809 bp) — the n knob transfers unchanged to a natural-text corpus.
GR_TOP2_BP = 2000
GR_DUP3_BP = 1800

_GOPHER_ORACLE = f"""
    WITH t AS (
        SELECT doc_id, lang, string_split(text, ' ') AS ws,
               CAST(length(text) AS BIGINT) AS nc
        FROM documents
    ), w AS (
        SELECT doc_id, lang, nc,
               unnest(ws) AS w, generate_subscripts(ws, 1) AS i
        FROM t
    ), base AS (
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_words,
               CAST(COUNT(DISTINCT w) AS BIGINT) AS n_distinct
        FROM w GROUP BY doc_id
    ), grams AS (
        SELECT doc_id, lang, nc, i, w,
               w || ' ' || LEAD(w, 1) OVER d AS g2,
               w || ' ' || LEAD(w, 1) OVER d || ' ' || LEAD(w, 2) OVER d
                   AS g3
        FROM w WINDOW d AS (PARTITION BY doc_id ORDER BY i)
    ), top2 AS (
        SELECT doc_id,
               CAST(10000 * cnt * length(g2) // nc AS BIGINT) AS top2_bp
        FROM (
            SELECT doc_id, g2, nc, CAST(COUNT(*) AS BIGINT) AS cnt,
                   ROW_NUMBER() OVER (
                       PARTITION BY doc_id
                       ORDER BY COUNT(*) DESC, length(g2) DESC, g2
                   ) AS rnk
            FROM grams WHERE g2 IS NOT NULL
            GROUP BY doc_id, g2, nc
        ) WHERE rnk = 1
    ), dup3 AS (
        SELECT doc_id,
               CAST(LEAST(
                   10000 * COALESCE(SUM(CASE WHEN cnt >= 2
                                        THEN cnt * length(g3) END), 0) // nc,
                   10000) AS BIGINT) AS dup3_bp
        FROM (
            SELECT doc_id, g3, nc, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM grams WHERE g3 IS NOT NULL
            GROUP BY doc_id, g3, nc
        ) GROUP BY doc_id, nc
    )
    SELECT t.doc_id, t.lang, b.n_words, b.n_distinct,
           CAST(10000 * (b.n_words - b.n_distinct) // b.n_words AS BIGINT)
               AS rep_bp,
           COALESCE(p.top2_bp, 0) AS top2_bp,
           COALESCE(d.dup3_bp, 0) AS dup3_bp,
           CAST(CASE WHEN COALESCE(p.top2_bp, 0) <= {GR_TOP2_BP}
                      AND COALESCE(d.dup3_bp, 0) <= {GR_DUP3_BP}
                     THEN 1 ELSE 0 END AS BIGINT) AS keep
    FROM t
    JOIN base b ON b.doc_id = t.doc_id
    LEFT JOIN top2 p ON p.doc_id = t.doc_id
    LEFT JOIN dup3 d ON d.doc_id = t.doc_id
"""


@declared("q_gopher_repetition", oracle=_GOPHER_ORACLE)
def q_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GOPHER/MassiveText repetition-filter battery (Rae et al. 2021
    Table A1, the intra-document half of the quality gate every LLM
    pretraining pipeline ships): per document, the character fraction
    covered by the most common 2-gram (top2_bp), the character fraction
    covered by duplicated 3-grams (dup3_bp, capped at 10000 — occurrence
    char mass can exceed doc length under overlap), the word-repetition
    ratio (rep_bp = 1 - distinct/total), and the composed keep verdict at
    the paper's thresholds (top-2-gram <= 20%, dup-3-gram chars <= 18%).
    Newline-free adaptation: the corpus is a word stream, so the paper's
    line-level signals have no support here; the n-gram battery is the
    transferable core. Complements q_quality_gate (lexical diversity /
    surprisal band) and the cross-document dedup family — a doc can be
    globally unique yet internally degenerate, and only this signal
    catches it.

    Engine-exactness: integer counts and char masses, floor-divided bp,
    top-2-gram ties broken (count DESC, char-length DESC, gram ASC),
    docs with no 3-gram COALESCE to dup3_bp = 0, and docs with no 2-gram
    (single-word documents) LEFT-JOIN in with top2_bp = 0 so every
    document receives a keep/drop verdict (ADVICE r12 — an inner join to
    top2 silently exempted degenerate docs from the gate).

    Scale notes (100 TB): every window and aggregate is PARTITIONED BY
    doc_id — state is bounded by the longest document, never the corpus;
    the token explode carries (doc_id, lang, nc, i, w) only. One shuffle
    keyed on doc_id serves the gram windows and both gram aggregates
    (co-partitioned), then three broadcast-size per-doc frames join back.
    The verdict composes in-plan, so the downstream filter is a pushed
    predicate on this frame, exactly like q_quality_gate."""
    t = load_tables(spark, sf_dir)
    w = t.documents.select(
        "doc_id",
        "lang",
        F.length("text").cast("bigint").alias("nc"),
        F.posexplode(F.split("text", " ")).alias("i", "w"),
    )
    d = Window.partitionBy("doc_id").orderBy("i")
    grams = w.select(
        "doc_id",
        "lang",
        "nc",
        F.concat_ws(" ", "w", F.lead("w", 1).over(d)).alias("g2_raw"),
        F.concat_ws(
            " ",
            "w",
            F.lead("w", 1).over(d),
            F.lead("w", 2).over(d),
        ).alias("g3_raw"),
        F.lead("w", 1).over(d).isNotNull().alias("has2"),
        F.lead("w", 2).over(d).isNotNull().alias("has3"),
    ).select(
        "doc_id",
        "lang",
        "nc",
        # concat_ws skips NULLs (no NULL propagation like || in SQL), so
        # gate on the lead existence flags instead
        F.when(F.col("has2"), F.col("g2_raw")).alias("g2"),
        F.when(F.col("has3"), F.col("g3_raw")).alias("g3"),
    )
    base = w.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_words"),
        F.countDistinct("w").cast("bigint").alias("n_distinct"),
    )
    rnk = Window.partitionBy("doc_id").orderBy(
        F.desc("cnt"), F.desc(F.length("g2")), "g2"
    )
    top2 = (
        grams.filter(F.col("g2").isNotNull())
        .groupBy("doc_id", "g2", "nc")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .withColumn("rnk", F.row_number().over(rnk))
        .filter(F.col("rnk") == 1)
        .select(
            "doc_id",
            F.expr("CAST(10000 * cnt * length(g2) DIV nc AS BIGINT)").alias(
                "top2_bp"
            ),
        )
    )
    dup3 = (
        grams.filter(F.col("g3").isNotNull())
        .groupBy("doc_id", "g3", "nc")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .groupBy("doc_id", "nc")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("cnt") >= 2, F.col("cnt") * F.length("g3")
                    )
                ),
                F.lit(0),
            ).alias("dup_mass")
        )
        .select(
            "doc_id",
            F.least(
                F.expr("CAST(10000 * dup_mass DIV nc AS BIGINT)"),
                F.lit(10000).cast("bigint"),
            ).alias("dup3_bp"),
        )
    )
    docs = t.documents.select("doc_id", "lang")
    return (
        docs.join(base, "doc_id")
        .join(top2, "doc_id", "left")
        .join(dup3, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            "n_words",
            "n_distinct",
            F.expr(
                "CAST(10000 * (n_words - n_distinct) DIV n_words AS BIGINT)"
            ).alias("rep_bp"),
            F.coalesce("top2_bp", F.lit(0).cast("bigint")).alias("top2_bp"),
            F.coalesce("dup3_bp", F.lit(0).cast("bigint")).alias("dup3_bp"),
            F.when(
                (F.coalesce("top2_bp", F.lit(0)) <= GR_TOP2_BP)
                & (F.coalesce("dup3_bp", F.lit(0)) <= GR_DUP3_BP),
                1,
            )
            .otherwise(0)
            .cast("bigint")
            .alias("keep"),
        )
    )


# --------------------------------------------------------------------------
# q_bloom_dedup — distributed Bloom-filter membership at ingest, with the
# false-positive rate audited in-plan against exact membership
# --------------------------------------------------------------------------

BLM_BPK = 8  # filter bits per indexed key: m = 8n, k=4 => ~2.4% FPR regime
BLM_K = 4  # hash functions
BLM_PREFIX = 8  # template key = md5 of the first 8 words (q_template_spectrum)

_BLOOM_DEDUP_ORACLE = f"""
    WITH keyed AS (
        SELECT doc_id, source, doc_id % 2 AS half,
               md5(array_to_string(string_split(text, ' ')[1:{BLM_PREFIX}],
                   ' ')) AS pk
        FROM documents
    ), m AS (
        -- filter sized to the corpus: m = {BLM_BPK} bits per distinct
        -- indexed key (fixed-m filters saturate as the corpus grows)
        SELECT CAST({BLM_BPK} * COUNT(DISTINCT pk) AS BIGINT) AS m_bits
        FROM keyed WHERE half = 0
    ), hx AS (
        -- digest computed ONCE per (key, j) row; _hex_to_int_sql then
        -- reads the column 8 times (one strpos per hex digit) instead of
        -- re-evaluating the md5 per digit (ADVICE r12)
        SELECT k.half, k.doc_id, k.source, k.pk, j.j,
               md5('blm' || j.j || '|' || k.pk) AS h
        FROM keyed k CROSS JOIN (SELECT unnest(range({BLM_K})) AS j) j
    ), pos AS (
        SELECT half, doc_id, source, pk, j,
               ({_hex_to_int_sql("h", 8)})
                   % (SELECT m_bits FROM m) AS pos
        FROM hx
    ), filt AS (
        SELECT DISTINCT pos FROM pos WHERE half = 0
    ), fill AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_bits_set,
               CAST(10000 * COUNT(*) // (SELECT m_bits FROM m) AS BIGINT)
                   AS fill_bp
        FROM filt
    ), probe AS (
        SELECT p.doc_id, p.source, p.pk,
               CAST(COUNT(f.pos) AS BIGINT) AS n_hit
        FROM pos p LEFT JOIN filt f ON f.pos = p.pos
        WHERE p.half = 1
        GROUP BY p.doc_id, p.source, p.pk
    ), truth AS (
        SELECT DISTINCT pk FROM keyed WHERE half = 0
    ), verdict AS (
        SELECT pr.source,
               CASE WHEN pr.n_hit = {BLM_K} THEN 1 ELSE 0 END AS maybe,
               CASE WHEN t.pk IS NOT NULL THEN 1 ELSE 0 END AS is_member
        FROM probe pr LEFT JOIN truth t ON t.pk = pr.pk
    )
    SELECT v.source,
           CAST(COUNT(*) AS BIGINT) AS n_probes,
           CAST(SUM(v.maybe) AS BIGINT) AS n_maybe,
           CAST(SUM(v.is_member) AS BIGINT) AS n_true,
           CAST(SUM(CASE WHEN v.maybe = 1 AND v.is_member = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_fp,
           CAST(10000 * SUM(CASE WHEN v.maybe = 1 AND v.is_member = 0
                                 THEN 1 ELSE 0 END)
                // GREATEST(COUNT(*) - SUM(v.is_member), 1) AS BIGINT)
               AS fpr_bp,
           fl.n_bits_set, fl.fill_bp
    FROM verdict v CROSS JOIN fill fl
    GROUP BY v.source, fl.n_bits_set, fl.fill_bp
"""


@declared("q_bloom_dedup", oracle=_BLOOM_DEDUP_ORACLE)
def q_bloom_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTRIBUTED BLOOM-FILTER MEMBERSHIP at ingest — the cheap
    have-we-seen-this-template-before admission test that runs before any
    expensive dedup pass: the index half of the corpus (even doc_ids — the
    q_index_delta main/delta convention) hashes its template key (md5 of
    the first {BLM_PREFIX} words, the q_template_spectrum boilerplate
    detector) into an m-bit filter (m = {BLM_BPK} bits per distinct
    indexed key — corpus-sized, so the operating point is
    scale-invariant; a FIXED m saturates as the corpus grows) with
    k={BLM_K} md5-derived positions; the ingest half probes it. The readout is per-source filter
    quality, AUDITED IN-PLAN: probe count, filter-positive count, exact
    membership (the ground truth a production filter can't afford to
    compute — here it's the audit), false positives, and the measured
    false-positive rate in bp — plus the filter's fill factor, the knob
    that drives FPR ((fill)^k in expectation).

    Engine-exactness: positions are md5-derived integers mod m
    (non-negative, so Spark pmod == DuckDB %; m itself is an exact
    1-row COUNT broadcast); the probe verdict is an
    exact COUNT of matched positions == {BLM_K}; all ratios are
    floor-divided bp with a GREATEST(..,1) guard for the all-members
    degenerate source.

    Scale notes (100 TB): the FILTER is the tiny side — m/8 bytes as a
    bitmap ({BLM_BPK} bits per key = 1 byte/key: a 10^9-key index is a
    1 GB bitmap, broadcast once per executor; here it travels as the
    distinct-position table); the
    probe side streams map-side-only against the broadcast (zero corpus
    shuffle for admission). Text never moves: keys are 32-byte digests of
    an 8-word prefix. The exact-membership audit joins digests, not text,
    and exists to certify the filter — production runs filter-only and
    pays FPR, which this query MEASURES rather than assumes."""
    t = load_tables(spark, sf_dir)
    import pandas as pd

    keyed = t.documents.select(
        "doc_id",
        "source",
        (F.col("doc_id") % 2).alias("half"),
        F.md5(
            F.array_join(F.slice(F.split("text", " "), 1, BLM_PREFIX), " ")
        ).alias("pk"),
    )
    js = F.broadcast(spark.createDataFrame(pd.DataFrame({"j": list(range(BLM_K))})))
    m = F.broadcast(
        keyed.filter(F.col("half") == 0).agg(
            (F.lit(BLM_BPK) * F.countDistinct("pk"))
            .cast("bigint")
            .alias("m_bits")
        )
    )
    pos = keyed.crossJoin(js).crossJoin(m).select(
        "half",
        "doc_id",
        "source",
        "pk",
        F.expr(
            "CAST(conv(substr(md5(concat('blm', CAST(j AS STRING), '|', pk)),"
            " 1, 8), 16, 10) AS BIGINT) % m_bits"
        ).alias("pos"),
    )
    # Stage the k-position fan-out to parquet scratch (the r10
    # staged-scratch idiom, VERDICT r12 #7): filt (index half) and probe
    # (ingest half) both consume pos — inlined, each re-scanned the
    # corpus and re-did the md5 fan-out (22 exchanges); staged, the
    # corpus is hashed once and both halves scan the narrow (ids, pk,
    # pos) summary. Bit-exact round-trip (BIGINT + digest strings) —
    # hashes re-attested at all 3 SFs.
    pos_path = scratch_dir("blm_pos", sf_dir)
    pos.write.mode("overwrite").parquet(pos_path)
    pos = spark.read.parquet(pos_path)
    filt = pos.filter(F.col("half") == 0).select("pos").distinct()
    fill = filt.agg(
        F.count("*").cast("bigint").alias("n_bits_set")
    ).crossJoin(m).select(
        "n_bits_set",
        F.expr("CAST(10000 * n_bits_set DIV m_bits AS BIGINT)").alias(
            "fill_bp"
        ),
    )
    probe = (
        pos.filter(F.col("half") == 1)
        .join(F.broadcast(filt.withColumnRenamed("pos", "f_pos")),
              F.col("pos") == F.col("f_pos"), "left")
        .groupBy("doc_id", "source", "pk")
        .agg(F.count("f_pos").cast("bigint").alias("n_hit"))
    )
    truth = (
        keyed.filter(F.col("half") == 0).select(F.col("pk").alias("t_pk")).distinct()
    )
    verdict = probe.join(
        F.broadcast(truth), probe.pk == F.col("t_pk"), "left"
    ).select(
        "source",
        F.when(F.col("n_hit") == BLM_K, 1).otherwise(0).alias("maybe"),
        F.when(F.col("t_pk").isNotNull(), 1).otherwise(0).alias("is_member"),
    )
    return (
        verdict.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_probes"),
            F.sum("maybe").cast("bigint").alias("n_maybe"),
            F.sum("is_member").cast("bigint").alias("n_true"),
            F.sum(
                F.when((F.col("maybe") == 1) & (F.col("is_member") == 0), 1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("n_fp"),
        )
        .crossJoin(F.broadcast(fill))
        .select(
            "source",
            "n_probes",
            "n_maybe",
            "n_true",
            "n_fp",
            F.expr(
                "CAST(10000 * n_fp DIV GREATEST(n_probes - n_true, 1)"
                " AS BIGINT)"
            ).alias("fpr_bp"),
            "n_bits_set",
            "fill_bp",
        )
    )


# --------------------------------------------------------------------------
# q_fold_split — cluster-aware train/val/test assignment with the
# zero-spanning proof as a hash-verified output column
# --------------------------------------------------------------------------

FOLD_N = 10  # hash folds; 0-7 train, 8 val, 9 test

_FOLD_SPLIT_ORACLE = f"""
    WITH keyed AS (
        SELECT doc_id, n_chars, md5(text) AS ck,
               md5('fold|' || md5(text)) AS fh
        FROM documents
    ), assigned AS (
        SELECT doc_id, n_chars, ck,
               CASE WHEN f < 8 THEN 'train' WHEN f = 8 THEN 'val'
                    ELSE 'test' END AS split
        FROM (SELECT doc_id, n_chars, ck,
                     ({_hex_to_int_sql("fh", 8)}) % {FOLD_N} AS f
              FROM keyed)
    ), spans AS (
        SELECT ck, CAST(COUNT(DISTINCT split) AS BIGINT) AS n_splits
        FROM assigned GROUP BY ck
    ), tot AS (
        SELECT CAST(SUM(n_chars) AS BIGINT) AS total_chars FROM assigned
    )
    SELECT a.split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT a.ck) AS BIGINT) AS n_clusters,
           CAST(SUM(a.n_chars) AS BIGINT) AS n_chars,
           CAST(10000 * SUM(a.n_chars) // (SELECT total_chars FROM tot)
                AS BIGINT) AS share_bp,
           CAST(SUM(CASE WHEN s.n_splits > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS spanning_docs
    FROM assigned a JOIN spans s ON s.ck = a.ck
    GROUP BY a.split
"""


@declared("q_fold_split", oracle=_FOLD_SPLIT_ORACLE)
def q_fold_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLUSTER-AWARE train/val/test split — the leakage-FREE construction
    (q_leakage is the after-the-fact audit; this is how you make it pass):
    the fold hash is computed from the exact-dup cluster key (md5(text)),
    NEVER the doc id, so every member of a duplicate cluster lands in the
    same fold by construction. 80/10/10 via {FOLD_N} md5-derived folds.
    The zero-spanning PROOF is part of the hash-verified result: per
    split, the count of docs whose cluster appears in more than one split
    (spanning_docs — identically 0), plus per-split doc/cluster/char
    volumes and the char-share in bp (the actual split ratio, which
    drifts from 80/10/10 exactly as cluster sizes skew — that drift is
    the readout a doc-hashed split hides).

    Engine-exactness: fold = first-8-hex-digits of md5('fold|'||ck) mod
    {FOLD_N} (non-negative — pmod == %); integer counts and floor-divided
    share; split labels are literals.

    Scale notes (100 TB): one map-side pass computes keys and folds (no
    shuffle to ASSIGN — assignment is pure hashing, the q_split
    growth-stable property, inherited at cluster granularity); the
    spanning proof and per-split census are two map-side-combined
    aggregates on 32-byte digests (text never shuffles). The proof
    aggregate keys on ck — the same key a dedup pass already shuffles by,
    so on a bucketed corpus it is shuffle-local."""
    t = load_tables(spark, sf_dir)
    assigned = t.documents.select(
        "doc_id",
        "n_chars",
        F.md5("text").alias("ck"),
        F.expr(
            "CAST(conv(substr(md5(concat('fold|', md5(text))), 1, 8),"
            " 16, 10) AS BIGINT)"
        ).alias("fhash"),
    ).select(
        "doc_id",
        "n_chars",
        "ck",
        F.when(F.col("fhash") % FOLD_N < 8, "train")
        .when(F.col("fhash") % FOLD_N == 8, "val")
        .otherwise("test")
        .alias("split"),
    )
    spans = assigned.groupBy("ck").agg(
        F.countDistinct("split").cast("bigint").alias("n_splits")
    )
    tot = assigned.agg(
        F.sum("n_chars").cast("bigint").alias("total_chars")
    )
    return (
        assigned.join(spans.withColumnRenamed("ck", "s_ck"),
                      assigned.ck == F.col("s_ck"))
        .groupBy("split")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.countDistinct("ck").cast("bigint").alias("n_clusters"),
            F.sum("n_chars").cast("bigint").alias("n_chars"),
            F.sum(F.when(F.col("n_splits") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("spanning_docs"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "split",
            "n_docs",
            "n_clusters",
            "n_chars",
            F.expr(
                "CAST(10000 * n_chars DIV total_chars AS BIGINT)"
            ).alias("share_bp"),
            "spanning_docs",
        )
    )


# --------------------------------------------------------------------------
# q_vocab_diff — term-level release diff: new/dead/shared census + top
# tf movers per class (the vocabulary half of q_corpus_diff)
# --------------------------------------------------------------------------

VD_TOPK = 10  # movers reported per class

_VOCAB_DIFF_ORACLE = f"""
    WITH w AS (
        SELECT doc_id % 2 AS ver, doc_id,
               unnest(ws) AS w, generate_subscripts(ws, 1) AS i
        FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
    ), tok AS (
        SELECT ver, doc_id,
               w || ' ' || LEAD(w) OVER (PARTITION BY doc_id ORDER BY i)
                   AS term
        FROM w
    ), joined AS (
        -- ONE conditional aggregate instead of per-version branches +
        -- FULL OUTER self-join: each doc lives in exactly one version, so
        -- per-version df/tf are filter-aggregable from the same token
        -- stream (the q_index_delta segment-merge identity)
        SELECT term,
               CASE WHEN COUNT(*) FILTER (ver = 0) = 0 THEN 'new'
                    WHEN COUNT(*) FILTER (ver = 1) = 0 THEN 'dead'
                    ELSE 'shared' END AS class,
               CAST(COUNT(DISTINCT doc_id) FILTER (ver = 0) AS BIGINT)
                   AS df_v1,
               CAST(COUNT(*) FILTER (ver = 0) AS BIGINT) AS tf_v1,
               CAST(COUNT(DISTINCT doc_id) FILTER (ver = 1) AS BIGINT)
                   AS df_v2,
               CAST(COUNT(*) FILTER (ver = 1) AS BIGINT) AS tf_v2,
               CAST(COUNT(*) FILTER (ver = 1)
                    - COUNT(*) FILTER (ver = 0) AS BIGINT) AS delta_tf
        FROM tok WHERE term IS NOT NULL GROUP BY term
    ), census AS (
        SELECT 'census' AS kind, class, CAST(0 AS BIGINT) AS rnk,
               '' AS term,
               CAST(SUM(df_v1) AS BIGINT) AS df_v1,
               CAST(SUM(tf_v1) AS BIGINT) AS tf_v1,
               CAST(SUM(df_v2) AS BIGINT) AS df_v2,
               CAST(SUM(tf_v2) AS BIGINT) AS tf_v2,
               CAST(SUM(delta_tf) AS BIGINT) AS delta_tf
        FROM joined GROUP BY class
    ), movers AS (
        SELECT 'mover' AS kind, class, rnk, term,
               df_v1, tf_v1, df_v2, tf_v2, delta_tf
        FROM (
            SELECT *, CAST(ROW_NUMBER() OVER (
                       PARTITION BY class
                       ORDER BY ABS(delta_tf) DESC, term) AS BIGINT) AS rnk
            FROM joined
        ) WHERE rnk <= {VD_TOPK}
    )
    SELECT * FROM census UNION ALL SELECT * FROM movers
"""


@declared("q_vocab_diff", oracle=_VOCAB_DIFF_ORACLE)
def q_vocab_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TERM-LEVEL RELEASE DIFF — the vocabulary half of the dataset-version
    audit (q_corpus_diff diffs documents; this diffs the term distribution
    between corpus v1 = even doc_ids and v2 = odd): a per-class census
    (new / dead / shared terms with their df and tf masses) plus the top
    {VD_TOPK} tf movers per class (|delta_tf| DESC, term ASC). Terms are
    BIGRAMS — the unigram vocabulary of the synthetic corpus is a closed
    31-word set present in both halves (zero churn), while the bigram
    space churns (measured 4 new / 9 dead / 903 shared at sf0.01), and
    bigram-level diffing is what catches phrase-level template drift a
    unigram census misses. The
    before-shipping readout that catches a scrape gone wrong — a
    boilerplate explosion shows up as a 'new' mover, a parser regression
    as a 'dead' one — one release earlier than downstream eval drift
    (q_drift_tvd watches sources; this watches WORDS).

    Engine-exactness: integer df/tf via ONE conditional aggregate over
    the combined token stream (COUNT(*) FILTER (ver = ...) in the oracle,
    count(when(ver == ...)) in Spark — each doc lives in exactly one
    version, so per-version stats are filter-aggregable with no
    FULL-OUTER self-join and the absent side reads as a plain 0 count);
    mover rank ties broken by term, census keyed by class literal.

    Scale notes (100 TB): per-version term stats are one map-side-combined
    aggregate over (ver, term) — the token stream shuffles 32-byte-max
    terms, never documents; the class census and everything after run
    on vocab-sized data (Heaps' law: ~10^7-10^8 terms for a 10^12-token
    corpus — single-executor scale). The mover windows partition by class
    over that vocab-sized frame; a production run prefilters with a
    coarse |delta_tf| threshold before ranking to keep the sort local."""
    t = load_tables(spark, sf_dir)
    w = t.documents.select(
        (F.col("doc_id") % 2).alias("ver"),
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("i", "w"),
    )
    dw = Window.partitionBy("doc_id").orderBy("i")
    tok = w.select(
        "ver",
        "doc_id",
        F.when(
            F.lead("w", 1).over(dw).isNotNull(),
            F.concat_ws(" ", "w", F.lead("w", 1).over(dw)),
        ).alias("term"),
    ).filter(F.col("term").isNotNull())
    joined = tok.groupBy("term").agg(
        F.count(F.when(F.col("ver") == 0, 1)).alias("n1"),
        F.count(F.when(F.col("ver") == 1, 1)).alias("n2"),
        F.countDistinct(F.when(F.col("ver") == 0, F.col("doc_id")))
        .cast("bigint")
        .alias("df_v1"),
        F.countDistinct(F.when(F.col("ver") == 1, F.col("doc_id")))
        .cast("bigint")
        .alias("df_v2"),
    ).select(
        "term",
        F.when(F.col("n1") == 0, "new")
        .when(F.col("n2") == 0, "dead")
        .otherwise("shared")
        .alias("class"),
        "df_v1",
        F.col("n1").cast("bigint").alias("tf_v1"),
        "df_v2",
        F.col("n2").cast("bigint").alias("tf_v2"),
        (F.col("n2") - F.col("n1")).cast("bigint").alias("delta_tf"),
    )
    census = joined.groupBy("class").agg(
        F.sum("df_v1").cast("bigint").alias("df_v1"),
        F.sum("tf_v1").cast("bigint").alias("tf_v1"),
        F.sum("df_v2").cast("bigint").alias("df_v2"),
        F.sum("tf_v2").cast("bigint").alias("tf_v2"),
        F.sum("delta_tf").cast("bigint").alias("delta_tf"),
    ).select(
        F.lit("census").alias("kind"),
        "class",
        F.lit(0).cast("bigint").alias("rnk"),
        F.lit("").alias("term"),
        "df_v1",
        "tf_v1",
        "df_v2",
        "tf_v2",
        "delta_tf",
    )
    mw = Window.partitionBy("class").orderBy(
        F.abs(F.col("delta_tf")).desc(), "term"
    )
    movers = (
        joined.withColumn("rnk", F.row_number().over(mw).cast("bigint"))
        .filter(F.col("rnk") <= VD_TOPK)
        .select(
            F.lit("mover").alias("kind"),
            "class",
            "rnk",
            "term",
            "df_v1",
            "tf_v1",
            "df_v2",
            "tf_v2",
            "delta_tf",
        )
    )
    return census.unionByName(movers)


# --------------------------------------------------------------------------
# q_zorder_prune — the pruning benefit of z-order layout: files touched
# and read amplification under z-order vs row-major, for one 2-D predicate
# --------------------------------------------------------------------------

ZP_BITS = 8  # quantization bits per dimension (x, y in 0..255)
ZP_FILE_SHIFT = 1 << 10  # 1024 cells per file => 64 files over 16-bit keys
ZP_LO, ZP_HI = 96, 159  # the centered 64x64 query square (32-aligned)


def _zp_interleave(xc: str, yc: str, idiv: str) -> str:
    """Closed-form Morton interleave of two {ZP_BITS}-bit ints — the SAME
    formula text rendered for each engine's integer-division keyword
    (Spark DIV / DuckDB //): bit j of x lands at position 2j, of y at
    2j+1."""
    terms = []
    for j in range(ZP_BITS):
        terms.append(f"(({xc} {idiv} {1 << j}) % 2) * {1 << (2 * j)}")
        terms.append(f"(({yc} {idiv} {1 << j}) % 2) * {1 << (2 * j + 1)}")
    return " + ".join(terms)


_ZP_ORACLE = f"""
    WITH bounds AS (
        SELECT CAST(MIN(l_orderkey) AS BIGINT) AS min_x,
               CAST(MAX(l_orderkey) AS BIGINT) AS max_x,
               CAST(MIN(l_partkey) AS BIGINT) AS min_y,
               CAST(MAX(l_partkey) AS BIGINT) AS max_y
        FROM lineitem
    ), pts AS (
        SELECT ((l_orderkey - b.min_x) * {1 << ZP_BITS})
                   // (b.max_x - b.min_x + 1) AS x,
               ((l_partkey - b.min_y) * {1 << ZP_BITS})
                   // (b.max_y - b.min_y + 1) AS y
        FROM lineitem, bounds b
    ), keyed AS (
        SELECT x, y,
               ({_zp_interleave("x", "y", "//")}) AS z,
               CASE WHEN x BETWEEN {ZP_LO} AND {ZP_HI}
                     AND y BETWEEN {ZP_LO} AND {ZP_HI}
                    THEN 1 ELSE 0 END AS hit
        FROM pts
    ), files AS (
        SELECT 'zorder' AS layout, z // {ZP_FILE_SHIFT} AS file_id,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(hit) AS BIGINT) AS n_hit
        FROM keyed GROUP BY 1, 2
        UNION ALL
        SELECT 'rowmajor' AS layout,
               (x * {1 << ZP_BITS} + y) // {ZP_FILE_SHIFT} AS file_id,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(hit) AS BIGINT) AS n_hit
        FROM keyed GROUP BY 1, 2
    )
    SELECT layout,
           CAST(COUNT(*) AS BIGINT) AS files_total,
           CAST(SUM(CASE WHEN n_hit > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS files_touched,
           CAST(SUM(n_hit) AS BIGINT) AS rows_matched,
           CAST(SUM(CASE WHEN n_hit > 0 THEN n_rows ELSE 0 END) AS BIGINT)
               AS touched_rows,
           CAST(10000 * SUM(n_hit)
                // GREATEST(SUM(CASE WHEN n_hit > 0 THEN n_rows
                                     ELSE 0 END), 1) AS BIGINT)
               AS read_amp_bp,
           CAST(10000 * SUM(CASE WHEN n_hit > 0 THEN 1 ELSE 0 END)
                // COUNT(*) AS BIGINT) AS touch_bp
    FROM files GROUP BY layout
"""


@declared("q_zorder_prune", oracle=_ZP_ORACLE)
def q_zorder_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRUNING BENEFIT of z-order layout — the readout that justifies
    q_zorder's Morton math: quantize (l_orderkey, l_partkey) to
    {ZP_BITS}-bit grid coordinates, assign every row to a file under TWO
    layouts — z-order (Morton key ranges) and row-major (x-then-y sort
    ranges), {ZP_FILE_SHIFT} cells per file — and measure, for one
    centered 2-D range predicate, the zone-map effect: files touched,
    rows matched, rows read (touched-file row mass), the read
    amplification (matched/read in bp — higher is better) and the
    fraction of files touched. Row-major must read every file whose
    x-range intersects (all y values ride along); z-order localizes both
    dimensions, touching ~(query area / file block) files. This is Delta
    OPTIMIZE ZORDER / Iceberg sort-order planning as a measured, in-plan
    comparison, not a claim.

    Engine-exactness: the interleave is the SAME generated formula text
    on both engines (integer div/mod bit extraction — no engine bitwise
    operators), quantization is exact integer scaling off a broadcast
    1-row min/max, the predicate square [{ZP_LO}, {ZP_HI}]^2 is 32-aligned
    so the z-block arithmetic is clean.

    Scale notes (100 TB): per-file stats are ONE map-side-combined
    aggregate per layout over integer keys (the real write would
    repartitionByRange on the same key — this query COSTS the layout
    before paying that shuffle); bounds are a broadcast 1-row aggregate.
    The readout scales to any file-count by changing {ZP_FILE_SHIFT};
    the decision it feeds (z-order vs insertion order) is exactly the
    one a 100 TB table maintenance pass has to make."""
    t = load_tables(spark, sf_dir)
    bounds = F.broadcast(
        t.lineitem.agg(
            F.min("l_orderkey").cast("bigint").alias("min_x"),
            F.max("l_orderkey").cast("bigint").alias("max_x"),
            F.min("l_partkey").cast("bigint").alias("min_y"),
            F.max("l_partkey").cast("bigint").alias("max_y"),
        )
    )
    pts = t.lineitem.select("l_orderkey", "l_partkey").crossJoin(bounds).select(
        F.expr(
            f"(l_orderkey - min_x) * {1 << ZP_BITS} DIV (max_x - min_x + 1)"
        ).alias("x"),
        F.expr(
            f"(l_partkey - min_y) * {1 << ZP_BITS} DIV (max_y - min_y + 1)"
        ).alias("y"),
    )
    keyed = pts.select(
        "x",
        "y",
        F.expr(_zp_interleave("x", "y", "DIV")).alias("z"),
        F.when(
            F.col("x").between(ZP_LO, ZP_HI)
            & F.col("y").between(ZP_LO, ZP_HI),
            1,
        )
        .otherwise(0)
        .alias("hit"),
    )
    fz = keyed.groupBy(
        F.expr(f"z DIV {ZP_FILE_SHIFT}").alias("file_id")
    ).agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum("hit").cast("bigint").alias("n_hit"),
    ).select(F.lit("zorder").alias("layout"), "file_id", "n_rows", "n_hit")
    frm = keyed.groupBy(
        F.expr(f"(x * {1 << ZP_BITS} + y) DIV {ZP_FILE_SHIFT}").alias(
            "file_id"
        )
    ).agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum("hit").cast("bigint").alias("n_hit"),
    ).select(F.lit("rowmajor").alias("layout"), "file_id", "n_rows", "n_hit")
    return (
        fz.unionByName(frm)
        .groupBy("layout")
        .agg(
            F.count("*").cast("bigint").alias("files_total"),
            F.sum(F.when(F.col("n_hit") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("files_touched"),
            F.sum("n_hit").cast("bigint").alias("rows_matched"),
            F.sum(F.when(F.col("n_hit") > 0, F.col("n_rows")).otherwise(0))
            .cast("bigint")
            .alias("touched_rows"),
        )
        .select(
            "layout",
            "files_total",
            "files_touched",
            "rows_matched",
            "touched_rows",
            F.expr(
                "CAST(10000 * rows_matched DIV GREATEST(touched_rows, 1)"
                " AS BIGINT)"
            ).alias("read_amp_bp"),
            F.expr(
                "CAST(10000 * files_touched DIV files_total AS BIGINT)"
            ).alias("touch_bp"),
        )
    )


# --------------------------------------------------------------------------
# q_rank_eval — rank displacement of the exact NN under int8 quantization
# (the MRR-style eval readout the set-recall audits don't capture)
# --------------------------------------------------------------------------

RE_NQ = 8  # query vectors: vec_id 0..7 (present at every SF)

# Shared fixed-point unit-vector CTE (round11's q_binary_ann precedent).
from .round11 import _U_CTE  # noqa: E402

_RANK_EVAL_ORACLE = f"""
    WITH {_U_CTE}, mx AS (
        SELECT vec_id, MAX(ABS(x)) AS mabs
        FROM ex GROUP BY vec_id
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
        WHERE uq.vec_id < {RE_NQ}
        GROUP BY uq.vec_id, uc.vec_id
    ), dots8 AS (
        SELECT a.vec_id AS q_id, b.vec_id AS cand,
               CAST(SUM(a.qi * b.qi) AS BIGINT) AS dot8
        FROM q8 a JOIN q8 b ON b.i = a.i AND b.vec_id <> a.vec_id
        WHERE a.vec_id < {RE_NQ}
        GROUP BY a.vec_id, b.vec_id
    ), truth AS (
        SELECT q_id, cand AS true_nn, dot_fx AS dot_fx_true
        FROM (SELECT *, ROW_NUMBER() OVER (
                  PARTITION BY q_id ORDER BY dot_fx DESC, cand) AS r
              FROM dots) WHERE r = 1
    ), sysrank AS (
        SELECT q_id, cand,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY q_id ORDER BY dot8 DESC, cand) AS BIGINT)
                   AS sys_rank
        FROM dots8
    )
    SELECT t.q_id, t.true_nn, t.dot_fx_true, s.sys_rank,
           CAST(10000 // s.sys_rank AS BIGINT) AS rr_bp,
           CAST(CASE WHEN s.sys_rank = 1 THEN 1 ELSE 0 END AS BIGINT)
               AS top1_hit
    FROM truth t
    JOIN sysrank s ON s.q_id = t.q_id AND s.cand = t.true_nn
"""


@declared("q_rank_eval", oracle=_RANK_EVAL_ORACLE)
def q_rank_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RETRIEVAL RANK-DISPLACEMENT EVAL: where does int8 scalar
    quantization (q_embed_quant's 4x storage path: per-vector scale =
    127/max|x|, half-up rounding) rank the EXACT nearest neighbor? Per
    query (vec_id < {RE_NQ}, the q_binary_ann convention), the true NN
    under exact fixed-point cosine, its rank in the int8-dot ordering,
    the reciprocal rank in integer bp (10000 // rank — the MRR readout),
    and the top1_hit flag. The recall_bp audits across the ANN family
    measure SET membership at a cutoff; this measures ORDER degradation —
    the metric that decides whether a compressed index can serve top-1
    lookups or only shortlist for a re-ranker.

    Engine-exactness: both rankings are integer dot products of
    integer-quantized vectors (fx unit vectors and int8 codes); the only
    doubles are the per-vector scale (one IEEE quotient) and FLOOR(+0.5)
    half-up (engines disagree on ROUND ties, FLOOR(+0.5) they cannot);
    rank ties break on candidate id.

    Scale notes (100 TB): the {RE_NQ}-query side broadcasts (the
    broadcast-the-query rule); the candidate scan is one pass each over
    the int8 codes (the narrow census — 64 B/vector) and the fx vectors;
    rankings are per-query windows over candidate-count rows. The
    brute-force truth side is the AUDIT (production truth comes from the
    IVF/PQ/binary shortlist family); the int8 ranking side is exactly the
    production scorer."""
    t = load_tables(spark, sf_dir)
    emb = t.embeddings.select(
        "vec_id", "embedding", _unit_fx_expr().alias("u")
    )
    mabs = F.array_max(
        F.expr("transform(embedding, v -> abs(CAST(v AS DOUBLE)))")
    )
    q8 = emb.select(
        "vec_id",
        "u",
        F.when(mabs == 0, F.lit(0.0)).otherwise(F.lit(127.0) / mabs).alias(
            "scale"
        ),
        "embedding",
    ).select(
        "vec_id",
        "u",
        F.expr(
            "transform(embedding,"
            " v -> CAST(FLOOR(CAST(v AS DOUBLE) * scale + 0.5) AS BIGINT))"
        ).alias("q8"),
    )
    q = F.broadcast(
        q8.filter(F.col("vec_id") < RE_NQ).select(
            F.col("vec_id").alias("q_id"),
            F.col("u").alias("qu"),
            F.col("q8").alias("qq8"),
        )
    )
    scored = (
        q8.crossJoin(q)
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
                F.zip_with(F.col("q8"), F.col("qq8"), lambda x, y: x * y),
                F.lit(0).cast("bigint"),
                lambda a, v: a + v,
            ).alias("dot8"),
        )
    )
    tw = Window.partitionBy("q_id").orderBy(F.desc("dot_fx"), "cand")
    sw = Window.partitionBy("q_id").orderBy(F.desc("dot8"), "cand")
    ranked = scored.select(
        "q_id",
        "cand",
        "dot_fx",
        F.row_number().over(tw).alias("t_rank"),
        F.row_number().over(sw).cast("bigint").alias("sys_rank"),
    )
    return ranked.filter(F.col("t_rank") == 1).select(
        "q_id",
        F.col("cand").alias("true_nn"),
        F.col("dot_fx").alias("dot_fx_true"),
        "sys_rank",
        F.expr("CAST(10000 DIV sys_rank AS BIGINT)").alias("rr_bp"),
        F.when(F.col("sys_rank") == 1, 1)
        .otherwise(0)
        .cast("bigint")
        .alias("top1_hit"),
    )


# --------------------------------------------------------------------------
# q_rfm_features — RFM feature assembly: recency/frequency/monetary per
# user, quintile scores from exact PERCENTILE_DISC thresholds, segment
# --------------------------------------------------------------------------

_US_PER_DAY_R12 = 86_400_000_000

_RFM_ORACLE = f"""
    WITH peruser AS (
        SELECT user_id,
               CAST(MAX(epoch_us(ts)) // {_US_PER_DAY_R12} AS BIGINT)
                   AS last_day,
               CAST(COUNT(*) AS BIGINT) AS f_cnt,
               CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS m_cents
        FROM events GROUP BY user_id
    ), anchor AS (
        SELECT CAST(MAX(last_day) AS BIGINT) AS max_day FROM peruser
    ), rfm AS (
        SELECT user_id,
               CAST((SELECT max_day FROM anchor) - last_day AS BIGINT)
                   AS r_days,
               f_cnt, m_cents
        FROM peruser
    ), th AS (
        SELECT
          CAST(percentile_disc(0.2) WITHIN GROUP (ORDER BY r_days) AS BIGINT) AS r20,
          CAST(percentile_disc(0.4) WITHIN GROUP (ORDER BY r_days) AS BIGINT) AS r40,
          CAST(percentile_disc(0.6) WITHIN GROUP (ORDER BY r_days) AS BIGINT) AS r60,
          CAST(percentile_disc(0.8) WITHIN GROUP (ORDER BY r_days) AS BIGINT) AS r80,
          CAST(percentile_disc(0.2) WITHIN GROUP (ORDER BY f_cnt) AS BIGINT) AS f20,
          CAST(percentile_disc(0.4) WITHIN GROUP (ORDER BY f_cnt) AS BIGINT) AS f40,
          CAST(percentile_disc(0.6) WITHIN GROUP (ORDER BY f_cnt) AS BIGINT) AS f60,
          CAST(percentile_disc(0.8) WITHIN GROUP (ORDER BY f_cnt) AS BIGINT) AS f80,
          CAST(percentile_disc(0.2) WITHIN GROUP (ORDER BY m_cents) AS BIGINT) AS m20,
          CAST(percentile_disc(0.4) WITHIN GROUP (ORDER BY m_cents) AS BIGINT) AS m40,
          CAST(percentile_disc(0.6) WITHIN GROUP (ORDER BY m_cents) AS BIGINT) AS m60,
          CAST(percentile_disc(0.8) WITHIN GROUP (ORDER BY m_cents) AS BIGINT) AS m80
        FROM rfm
    ), scored AS (
        SELECT r.user_id, r.r_days, r.f_cnt, r.m_cents,
               CAST(5 - ((r.r_days > t.r20)::INT + (r.r_days > t.r40)::INT
                       + (r.r_days > t.r60)::INT + (r.r_days > t.r80)::INT)
                    AS BIGINT) AS r_score,
               CAST(1 + (r.f_cnt > t.f20)::INT + (r.f_cnt > t.f40)::INT
                      + (r.f_cnt > t.f60)::INT + (r.f_cnt > t.f80)::INT
                    AS BIGINT) AS f_score,
               CAST(1 + (r.m_cents > t.m20)::INT + (r.m_cents > t.m40)::INT
                      + (r.m_cents > t.m60)::INT + (r.m_cents > t.m80)::INT
                    AS BIGINT) AS m_score
        FROM rfm r, th t
    )
    SELECT user_id, r_days, f_cnt, m_cents, r_score, f_score, m_score,
           CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
               || CAST(m_score AS VARCHAR) AS segment
    FROM scored
"""


@declared("q_rfm_features", oracle=_RFM_ORACLE)
def q_rfm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM FEATURE ASSEMBLY — the behavioral feature-store build step
    (recency / frequency / monetary, the canonical segmentation features):
    per user, days since last event (vs the corpus max day), event count,
    monetary value in exact cents (FLOOR(value*100 + 0.5) — the half-up
    idiom), quintile scores 1-5 per dimension from exact PERCENTILE_DISC
    thresholds (recency REVERSED — recent = 5), and the 3-digit segment
    label ('555' = best). Scores from > comparisons against the four
    quintile thresholds, so every engine agrees exactly (no NTILE — its
    ties are ordering-dependent).

    Engine-exactness: thresholds are exact order statistics of BIGINT
    columns (PERCENTILE_DISC picks an element, never interpolates);
    cents use one IEEE multiply + half-up floor; day arithmetic is
    integer epoch-microsecond division.

    Scale notes (100 TB): one map-side-combined aggregate builds the
    per-user frame; the threshold row is a global exact-percentile over
    the user-count-sized frame (rank-global — the production swap-in at
    10^9 users is approx_percentile, the q_len_quantile trade already
    documented) broadcast back as a 1-row cross join; scoring is
    map-side. The segment label feeds GROUP BY segmentation downstream
    without re-deriving features."""
    t = load_tables(spark, sf_dir)
    peruser = t.events.groupBy("user_id").agg(
        # ts is TIMESTAMP_NTZ (the catalog's events layout) — unix_micros
        # rejects NTZ, so use the scalepatterns timestampdiff idiom
        F.expr(
            "CAST(MAX(timestampdiff(MICROSECOND,"
            " TIMESTAMP_NTZ '1970-01-01 00:00:00', ts))"
            f" DIV {_US_PER_DAY_R12} AS BIGINT)"
        ).alias("last_day"),
        F.count("*").cast("bigint").alias("f_cnt"),
        F.sum(F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)"))
        .cast("bigint")
        .alias("m_cents"),
    )
    anchor = F.broadcast(
        peruser.agg(F.max("last_day").cast("bigint").alias("max_day"))
    )
    rfm = peruser.crossJoin(anchor).select(
        "user_id",
        (F.col("max_day") - F.col("last_day")).cast("bigint").alias("r_days"),
        "f_cnt",
        "m_cents",
    )
    th = F.broadcast(
        rfm.agg(
            *[
                F.expr(
                    f"CAST(percentile_disc({p}) WITHIN GROUP"
                    f" (ORDER BY {c}) AS BIGINT)"
                ).alias(f"{c[0]}{int(p * 100)}")
                for c in ("r_days", "f_cnt", "m_cents")
                for p in (0.2, 0.4, 0.6, 0.8)
            ]
        )
    )
    scored = rfm.crossJoin(th).select(
        "user_id",
        "r_days",
        "f_cnt",
        "m_cents",
        F.expr(
            "CAST(5 - (CAST(r_days > r20 AS INT) + CAST(r_days > r40 AS INT)"
            " + CAST(r_days > r60 AS INT) + CAST(r_days > r80 AS INT))"
            " AS BIGINT)"
        ).alias("r_score"),
        F.expr(
            "CAST(1 + CAST(f_cnt > f20 AS INT) + CAST(f_cnt > f40 AS INT)"
            " + CAST(f_cnt > f60 AS INT) + CAST(f_cnt > f80 AS INT)"
            " AS BIGINT)"
        ).alias("f_score"),
        F.expr(
            "CAST(1 + CAST(m_cents > m20 AS INT) + CAST(m_cents > m40 AS INT)"
            " + CAST(m_cents > m60 AS INT) + CAST(m_cents > m80 AS INT)"
            " AS BIGINT)"
        ).alias("m_score"),
    )
    return scored.select(
        "user_id",
        "r_days",
        "f_cnt",
        "m_cents",
        "r_score",
        "f_score",
        "m_score",
        F.concat(
            F.col("r_score").cast("string"),
            F.col("f_score").cast("string"),
            F.col("m_score").cast("string"),
        ).alias("segment"),
    )


# --------------------------------------------------------------------------
# q_cc_incr — incremental connected components: near-dup clusters
# maintained under a delta-edge batch by SEEDED min-label propagation
# --------------------------------------------------------------------------


def _cc_incr_oracle() -> str:
    """Merged-graph CC (the REBUILD — the recursive-CTE transitive closure,
    orthogonal to Spark's seeded iterative propagation, so the hash gate IS
    the maintenance==rebuild proof) plus the base-graph CC for the changed
    flag. Edges replay dedup_near_minhash exactly (the _clusters_oracle
    construction)."""
    from .dedup import sql_minhash_capped_cand
    from .textprep import sql_shingles

    return f"""
    WITH RECURSIVE docs AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), sh AS (
        SELECT doc_id, {sql_shingles(3)} AS shingles FROM docs
    ), e AS (
        SELECT doc_id, unnest(shingles) AS s FROM sh
    ), {sql_minhash_capped_cand()}, pairs AS (
        SELECT doc_a, doc_b
        FROM cand JOIN sh x ON x.doc_id = doc_a JOIN sh y ON y.doc_id = doc_b
        WHERE LEN(LIST_INTERSECT(x.shingles, y.shingles)) * 1.0
              / LEN(LIST_DISTINCT(x.shingles || y.shingles)) >= 0.6
    ), edges AS (
        SELECT doc_a AS u, doc_b AS v FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs
    ), reach AS (
        SELECT u, v FROM edges
        UNION
        SELECT r.u, e2.v FROM reach r JOIN edges e2 ON r.v = e2.u
    ), comps AS (
        SELECT n.u AS node, LEAST(n.u, MIN(r.v)) AS comp
        FROM (SELECT DISTINCT u FROM edges) n
        LEFT JOIN reach r ON r.u = n.u
        GROUP BY n.u
    ), bedges AS (
        SELECT u, v FROM edges WHERE u % 2 = 0 AND v % 2 = 0
    ), breach AS (
        SELECT u, v FROM bedges
        UNION
        SELECT r.u, e2.v FROM breach r JOIN bedges e2 ON r.v = e2.u
    ), bcomps AS (
        SELECT n.u AS node, LEAST(n.u, MIN(r.v)) AS comp
        FROM (SELECT DISTINCT u FROM bedges) n
        LEFT JOIN breach r ON r.u = n.u
        GROUP BY n.u
    )
    SELECT CAST(c.node AS BIGINT) AS node, CAST(c.comp AS BIGINT) AS comp,
           CAST(c.node % 2 AS BIGINT) AS is_new,
           CAST(CASE WHEN b.comp IS NULL OR b.comp <> c.comp
                     THEN 1 ELSE 0 END AS BIGINT) AS changed
    FROM comps c LEFT JOIN bcomps b ON b.node = c.node
    """


@declared("q_cc_incr", oracle=_cc_incr_oracle())
def q_cc_incr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL CONNECTED COMPONENTS — dedup-cluster MAINTENANCE under
    an edge-append batch, the graph member that closes the incremental
    family (LSH docs q_dedup_incr, packed substrings q_substring_incr,
    IVF cells q_ivf_incr, text postings q_index_delta, aggregates/joins
    q_incr_agg/q_incr_join — and now cluster labels): the BASE graph is
    the near-dup pairs among even doc_ids (the long-lived index), the
    DELTA is every pair touching an odd doc_id (the ingest batch's
    collisions), and the merged labeling is computed by min-label
    propagation SEEDED from the base labels (components.py seed param) —
    converging in rounds proportional to how far the delta moved labels,
    not the merged graph's diameter. Output per node: its maintained
    component, is_new (odd = delta arrival), and changed (label differs
    from the base labeling — the blast radius of the batch, which is the
    number a production maintainer watches to decide merge-vs-rebuild).

    Maintenance==rebuild proof: the ORACLE computes the merged graph's CC
    from scratch by recursive-CTE transitive closure (the q_dedup_clusters
    orthogonal-implementation pattern) — the driver hash gate therefore
    certifies that SEEDED propagation reached the true from-scratch fixed
    point (seed validity argument in connected_components' docstring).

    Scale notes (100 TB): edges shuffle once per propagation round
    (co-partitioned join on u); labels are localCheckpointed per round so
    plan lineage stays flat; the base labeling is the persisted artifact a
    production run reads back instead of recomputing (here it is rebuilt
    because the testdata has no cross-round storage); delta-seeded rounds
    touch only partitions containing changed labels after the first
    iteration (AQE skew/locality does the rest)."""
    from .components import connected_components
    from .dedup import dedup_near_minhash

    t = load_tables(spark, sf_dir)
    pairs = dedup_near_minhash(t.documents, threshold=0.6).select(
        "doc_a", "doc_b"
    )
    base_pairs = pairs.filter(
        (F.col("doc_a") % 2 == 0) & (F.col("doc_b") % 2 == 0)
    )
    old = connected_components(base_pairs)
    maintained = connected_components(pairs, seed=old)
    return (
        maintained.join(
            old.select(
                F.col("node").alias("o_node"), F.col("comp").alias("o_comp")
            ),
            maintained.node == F.col("o_node"),
            "left",
        )
        .select(
            F.col("node").cast("bigint").alias("node"),
            F.col("comp").cast("bigint").alias("comp"),
            (F.col("node") % 2).cast("bigint").alias("is_new"),
            F.when(
                F.col("o_comp").isNull() | (F.col("o_comp") != F.col("comp")),
                1,
            )
            .otherwise(0)
            .cast("bigint")
            .alias("changed"),
        )
    )


# --------------------------------------------------------------------------
# q_rand_response — epsilon-DP randomized response with the unbiased
# estimator audited in-plan against ground truth
# --------------------------------------------------------------------------

RR_P_NUM, RR_P_DEN = 3, 4  # truth-telling probability p = 3/4 (eps = ln 3)

_RAND_RESPONSE_ORACLE = f"""
    WITH hx AS (
        -- digest once per row; the hex->int expansion below reads the
        -- column per digit instead of re-hashing 8x (ADVICE r12)
        SELECT source, doc_id,
               md5('rr|' || CAST(doc_id AS VARCHAR)) AS h
        FROM documents
    ), resp AS (
        SELECT source,
               CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS v,
               CASE WHEN ({_hex_to_int_sql("h", 8)})
                    % {RR_P_DEN} < {RR_P_NUM}
                    THEN CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END
                    ELSE CASE WHEN doc_id % 3 = 0 THEN 0 ELSE 1 END
               END AS reported
        FROM hx
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(v) AS BIGINT) AS n_true,
           CAST(SUM(reported) AS BIGINT) AS n_reported,
           CAST(({RR_P_DEN} * SUM(reported)
                 - ({RR_P_DEN} - {RR_P_NUM}) * COUNT(*))
                // (2 * {RR_P_NUM} - {RR_P_DEN}) AS BIGINT) AS n_est,
           CAST(10000 * ABS(({RR_P_DEN} * SUM(reported)
                             - ({RR_P_DEN} - {RR_P_NUM}) * COUNT(*))
                            // (2 * {RR_P_NUM} - {RR_P_DEN}) - SUM(v))
                // GREATEST(SUM(v), 1) AS BIGINT) AS err_bp
    FROM resp GROUP BY source
"""


@declared("q_rand_response", oracle=_RAND_RESPONSE_ORACLE)
def q_rand_response(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EPSILON-DP RANDOMIZED RESPONSE (Warner 1965 — the local-DP
    mechanism): each document "reports" its sensitive bit (the planted
    doc_id %% 3 == 0 attribute) truthfully with probability
    p = {RR_P_NUM}/{RR_P_DEN} (md5-derived deterministic coin — the house
    RAND() replacement) and flipped otherwise — eps = ln(p/(1-p)) = ln 3
    local differential privacy. The debiased estimator
    n_est = (4*n_reported - n) // 2 (the p=3/4 instance of
    (obs - (1-p)n)/(2p-1)) is emitted BESIDE the ground truth with err_bp,
    so the privacy/utility trade is MEASURED in-plan per source — the
    mechanism-level complement to q_dp_sensitivity's contribution
    bounding and q_k_anonymity's QI audit.

    Engine-exactness: the coin is an md5-derived integer mod {RR_P_DEN}
    (non-negative); the estimator is one integer division whose numerator
    CAN go negative (an unlucky source can under-report) — Spark DIV and
    DuckDB // both TRUNCATE toward zero there (measured: -1//2 = 0 in
    both), so the engines agree; python replays must trunc-divide, not
    floor (the one house-rule corner where // != DIV). err bp divides
    non-negative values with a GREATEST guard for an all-zero source.

    Scale notes (100 TB): one map-side pass computes bit+coin+report
    (no shuffle before the per-source combine); the ground-truth column
    exists because the testdata is non-private — a production local-DP
    pipeline never materializes v, and the query shape (report-only
    aggregation) is exactly what it runs."""
    t = load_tables(spark, sf_dir)
    resp = t.documents.select(
        "source",
        F.when(F.col("doc_id") % 3 == 0, 1).otherwise(0).alias("v"),
        F.expr(
            "CAST(conv(substr(md5(concat('rr|', CAST(doc_id AS STRING))),"
            f" 1, 8), 16, 10) AS BIGINT) % {RR_P_DEN}"
        ).alias("coin"),
    ).select(
        "source",
        "v",
        F.when(F.col("coin") < RR_P_NUM, F.col("v"))
        .otherwise(1 - F.col("v"))
        .alias("reported"),
    )
    return resp.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("v").cast("bigint").alias("n_true"),
        F.sum("reported").cast("bigint").alias("n_reported"),
    ).select(
        "source",
        "n",
        "n_true",
        "n_reported",
        F.expr(
            f"CAST(({RR_P_DEN} * n_reported"
            f" - ({RR_P_DEN} - {RR_P_NUM}) * n)"
            f" DIV (2 * {RR_P_NUM} - {RR_P_DEN}) AS BIGINT)"
        ).alias("n_est"),
        F.expr(
            f"CAST(10000 * ABS(({RR_P_DEN} * n_reported"
            f" - ({RR_P_DEN} - {RR_P_NUM}) * n)"
            f" DIV (2 * {RR_P_NUM} - {RR_P_DEN}) - n_true)"
            " DIV GREATEST(n_true, 1) AS BIGINT)"
        ).alias("err_bp"),
    )


# --------------------------------------------------------------------------
# q_simhash_sweep — the SimHash pigeonhole-block operating curve
# (radius -> blocks -> candidates -> emitted pairs -> semantic recall)
# --------------------------------------------------------------------------

SHS_SIG_BITS = 60  # simhash_md5 width
SHS_RADII = (0, 1, 2, 3)  # Hamming radii; r+1 blocks each (pigeonhole)
SHS_TAU_N, SHS_TAU_D = 1, 2  # semantic truth: exact 3-shingle Jaccard >= 0.5


def _shs_cfg(r: int) -> tuple[int, int]:
    """(n_blocks, block_bits) for radius r: r+1 equal blocks — any pair
    within Hamming distance r is identical on >= 1 block (pigeonhole), so
    block-bucket candidates have ZERO false negatives at radius r."""
    nb = r + 1
    return nb, SHS_SIG_BITS // nb


def _simhash_sweep_oracle() -> str:
    from .caps import sql_capped_bucket_ctes
    from .dedup import LSH_BUCKET_CAP
    from .round8b import sql_setsim_pairs_ctes

    band_selects = []
    for r in SHS_RADII:
        nb, bits = _shs_cfg(r)
        band_selects.append(
            f"""SELECT {r} AS cfg, doc_id,
               b.band, (simhash >> CAST(b.band * {bits} AS INT))
                       & {(1 << bits) - 1} AS sig
        FROM sim, (SELECT unnest(range({nb})) AS band) b"""
        )
    bands = "\n        UNION ALL\n        ".join(band_selects)
    cfg_rows = ", ".join(
        f"({r}, {_shs_cfg(r)[0]}, {_shs_cfg(r)[1]})" for r in SHS_RADII
    )
    return f"""
    WITH words AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ), h AS (
        SELECT doc_id, md5(w) AS hx FROM words
    ), bits AS (
        SELECT doc_id, b,
               CASE WHEN ((strpos('0123456789abcdef', substr(hx, 1 + b // 4, 1)) - 1)
                          >> (3 - (b % 4))) & 1 = 1 THEN 1 ELSE -1 END AS vote
        FROM h, (SELECT unnest(range({SHS_SIG_BITS})) AS b)
    ), votes AS (
        SELECT doc_id, b, SUM(vote) AS v FROM bits GROUP BY doc_id, b
    ), sim AS (
        SELECT doc_id,
               SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT)
                                         << CAST({SHS_SIG_BITS - 1} - b AS INT))
                        ELSE CAST(0 AS BIGINT) END) AS simhash
        FROM votes GROUP BY doc_id
    ), bands AS (
        {bands}
    ), {sql_capped_bucket_ctes("bands", "doc_id", "LSHCAP",
                               prefix="shcap", keys=("cfg", "band", "sig"))},
    cand AS (
        SELECT DISTINCT a.cfg, a.doc_id AS doc_a, b2.doc_id AS doc_b
        FROM shcap a
        JOIN shcap b2 ON b2.cfg = a.cfg AND b2.band = a.band
                     AND b2.sig = a.sig AND a.doc_id < b2.doc_id
    ), {sql_setsim_pairs_ctes(SHS_TAU_N, SHS_TAU_D)}, scored AS (
        SELECT c.cfg, c.doc_a, c.doc_b,
               bit_count(xor(sa.simhash, sb.simhash)) AS ham,
               CASE WHEN t.doc_a IS NOT NULL THEN 1 ELSE 0 END AS is_true
        FROM cand c
        JOIN sim sa ON sa.doc_id = c.doc_a
        JOIN sim sb ON sb.doc_id = c.doc_b
        LEFT JOIN ss_pairs t ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
    ), truth AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_true FROM ss_pairs
    )
    SELECT CAST(s.cfg AS BIGINT) AS radius,
           CAST(cf.nb AS BIGINT) AS n_blocks,
           CAST(cf.bits AS BIGINT) AS block_bits,
           CAST(COUNT(*) AS BIGINT) AS n_cand,
           CAST(SUM(CASE WHEN s.ham <= s.cfg THEN 1 ELSE 0 END) AS BIGINT)
               AS n_emit,
           CAST(SUM(CASE WHEN s.ham <= s.cfg AND s.is_true = 1
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_sem_hit,
           (SELECT n_true FROM truth) AS n_true,
           CAST(10000 * SUM(CASE WHEN s.ham <= s.cfg THEN 1 ELSE 0 END)
                // GREATEST(COUNT(*), 1) AS BIGINT) AS bucket_yield_bp,
           CAST(10000 * SUM(CASE WHEN s.ham <= s.cfg AND s.is_true = 1
                                 THEN 1 ELSE 0 END)
                // GREATEST((SELECT n_true FROM truth), 1) AS BIGINT)
               AS sem_recall_bp
    FROM scored s
    JOIN (VALUES {cfg_rows}) AS cf(cfg, nb, bits) ON cf.cfg = s.cfg
    GROUP BY s.cfg, cf.nb, cf.bits
    """.replace("LSHCAP", str(LSH_BUCKET_CAP))


@declared("q_simhash_sweep", oracle=_simhash_sweep_oracle())
def q_simhash_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SIMHASH OPERATING CURVE — the q_lsh_sweep idiom applied to the
    other near-dup signature family: for Hamming radius r in {SHS_RADII},
    split the {SHS_SIG_BITS}-bit SimHash into r+1 equal blocks (PIGEONHOLE:
    any pair within distance r is identical on >= 1 block, so block-bucket
    candidate generation has zero false negatives at that radius — pinned
    by an O(n^2) pytest), bucket-join per block (every (cfg, band, sig)
    bucket capped by the shared bounded-state min-k), verify the exact
    Hamming distance on candidates, and score the EMITTED pair set (ham
    <= r) against the exact 3-shingle-Jaccard >= {SHS_TAU_N}/{SHS_TAU_D}
    ground truth (setsim_exact_pairs — the prefix-join exact join, zero
    false negatives). Output per radius: candidate volume (the cost),
    emitted pairs, bucket yield (emitted/candidates — collapses as r grows
    because wider radii need shorter blocks = hotter buckets), and
    semantic recall vs the truth — the table that picks the radius for
    q_dedup_simhash's production threshold.

    Engine-exactness: signatures are the q_dedup_simhash md5-bit
    construction replayed bit-for-bit; blocks are shift/mask integer
    arithmetic; every ratio floor-divided bp with GREATEST guards.

    Scale notes (100 TB): one signature pass serves all 4 configs (the
    fan-out is 1+2+3+4 = 10 band rows per doc — integer keys only, text
    never moves); every bucket is capped (caps.py) so a degenerate block
    value cannot go quadratic; the exact-truth side is the audit
    (production runs bucket+verify only). The curve's cost column is the
    number a capacity plan multiplies by corpus size."""
    from .dedup import LSH_BUCKET_CAP, simhash_md5
    from .round8b import setsim_exact_pairs

    t = load_tables(spark, sf_dir)
    sim = simhash_md5(t.documents, "doc_id", "text")
    band_frames = []
    for r in SHS_RADII:
        nb, bits = _shs_cfg(r)
        keys = [
            F.shiftright(F.col("simhash"), b * bits)
            .bitwiseAND(F.lit((1 << bits) - 1))
            for b in range(nb)
        ]
        band_frames.append(
            sim.select(
                F.lit(r).alias("cfg"),
                "doc_id",
                F.posexplode(F.array(*keys)).alias("band", "sig"),
            )
        )
    bands = band_frames[0]
    for f in band_frames[1:]:
        bands = bands.unionByName(f)
    # pairs from each bucket's capped id array (caps.bucket_array_pairs):
    # identical (cfg, doc_a, doc_b) set to the old 3-key bucket self-join,
    # minus the second evaluation of the banding+cap chain (r13)
    from .caps import bucket_array_pairs, capped_bucket_id_arrays

    cand = bucket_array_pairs(
        capped_bucket_id_arrays(
            bands, "doc_id", LSH_BUCKET_CAP, keys=("cfg", "band", "sig")
        ),
        "doc_a",
        "doc_b",
        carry=("cfg",),
    )
    sa = sim.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sim_a"))
    sb = sim.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sim_b"))
    truth_pairs = setsim_exact_pairs(t.documents, SHS_TAU_N, SHS_TAU_D).select(
        F.col("doc_a").alias("t_a"), F.col("doc_b").alias("t_b")
    )
    scored = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .join(
            truth_pairs,
            (F.col("doc_a") == F.col("t_a")) & (F.col("doc_b") == F.col("t_b")),
            "left",
        )
        .select(
            "cfg",
            F.expr("bit_count(sim_a ^ sim_b)").alias("ham"),
            F.when(F.col("t_a").isNotNull(), 1).otherwise(0).alias("is_true"),
        )
    )
    n_true = truth_pairs.agg(F.count("*").cast("bigint").alias("n_true"))
    import pandas as pd

    cfgtab = F.broadcast(
        spark.createDataFrame(
            pd.DataFrame(
                {
                    "c_cfg": list(SHS_RADII),
                    "n_blocks": [_shs_cfg(r)[0] for r in SHS_RADII],
                    "block_bits": [_shs_cfg(r)[1] for r in SHS_RADII],
                }
            )
        )
    )
    return (
        scored.groupBy("cfg")
        .agg(
            F.count("*").cast("bigint").alias("n_cand"),
            F.sum(F.when(F.col("ham") <= F.col("cfg"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_emit"),
            F.sum(
                F.when(
                    (F.col("ham") <= F.col("cfg")) & (F.col("is_true") == 1), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_sem_hit"),
        )
        .join(cfgtab, F.col("cfg") == F.col("c_cfg"))
        .crossJoin(F.broadcast(n_true))
        .select(
            F.col("cfg").cast("bigint").alias("radius"),
            F.col("n_blocks").cast("bigint").alias("n_blocks"),
            F.col("block_bits").cast("bigint").alias("block_bits"),
            "n_cand",
            "n_emit",
            "n_sem_hit",
            "n_true",
            F.expr(
                "CAST(10000 * n_emit DIV GREATEST(n_cand, 1) AS BIGINT)"
            ).alias("bucket_yield_bp"),
            F.expr(
                "CAST(10000 * n_sem_hit DIV GREATEST(n_true, 1) AS BIGINT)"
            ).alias("sem_recall_bp"),
        )
    )


# --------------------------------------------------------------------------
# q_maxsim_topk — late-interaction (ColBERT MaxSim) retrieval over
# sub-vector decompositions, fixed-point exact
# --------------------------------------------------------------------------

MS_NQ = 4  # query vectors: vec_id 0..3
MS_SUB = 4  # sub-vectors per embedding (64 dims -> 4 x 16)
MS_SUBDIM = 16
MS_K = 5  # results per query

# per-(vec, slice) fixed-point unit sub-vector: same arithmetic as
# similarity._unit_fx_expr, applied to each 16-dim slice independently
# (ColBERT normalizes each token vector; slices stand in for token vectors)
_MS_U_SQL = f"""
    ex AS (
        SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings
    ), exs AS (
        SELECT vec_id, (i - 1) // {MS_SUBDIM} AS s,
               (i - 1) % {MS_SUBDIM} AS li,
               CAST(ROUND(x * {{FX}}) AS BIGINT) AS xi0
        FROM ex
    ), norms AS (
        SELECT vec_id, s, SQRT(CAST(SUM(xi0 * xi0) AS DOUBLE)) AS nrm
        FROM exs GROUP BY vec_id, s
    ), u AS (
        SELECT e.vec_id, e.s, e.li,
               CASE WHEN n.nrm = 0 THEN CAST(0 AS BIGINT)
                    ELSE CAST(ROUND(CAST(e.xi0 AS DOUBLE) / n.nrm * {{FX}})
                              AS BIGINT) END AS xi
        FROM exs e JOIN norms n ON n.vec_id = e.vec_id AND n.s = e.s
    )
"""

def maxsim_slice_units(emb: DataFrame) -> DataFrame:
    """(vec_id, s, u): each embedding decomposed into {MS_SUB} independent
    {MS_SUBDIM}-dim sub-vectors, each L2-normalized in shared fixed point
    (the per-slice twin of similarity._unit_fx_expr). Map-side only.
    Shared by q_maxsim_topk (exact late interaction) and round13's
    q_maxsim_rerank (shortlist-then-MaxSim production path)."""
    slices = emb.select(
        "vec_id",
        F.posexplode(
            F.array(
                *[
                    F.slice(F.col("embedding"), s * MS_SUBDIM + 1, MS_SUBDIM)
                    for s in range(MS_SUB)
                ]
            )
        ).alias("s", "sub"),
    )
    qa = (
        f"transform(sub, v -> CAST(ROUND(CAST(v AS DOUBLE) * {FX_SCALE}, 0)"
        " AS BIGINT))"
    )
    return slices.select(
        "vec_id",
        "s",
        F.expr(
            f"""zip_with(
                {qa},
                array_repeat(
                    sqrt(CAST(aggregate(zip_with({qa}, {qa}, (x, y) -> x * y),
                                        CAST(0 AS BIGINT), (a, v) -> a + v)
                              AS DOUBLE)),
                    size(sub)),
                (x, n) -> CASE WHEN n = 0.0D THEN CAST(0 AS BIGINT)
                               ELSE CAST(ROUND(CAST(x AS DOUBLE) / n
                                               * {FX_SCALE}, 0) AS BIGINT)
                          END)"""
        ).alias("u"),
    )


_MAXSIM_ORACLE = f"""
    WITH {_MS_U_SQL}, dots AS (
        SELECT uq.vec_id AS q_id, uq.s AS qs, uc.vec_id AS cand, uc.s AS cs,
               CAST(SUM(uq.xi * uc.xi) AS BIGINT) AS dot
        FROM u uq JOIN u uc ON uc.li = uq.li AND uc.vec_id <> uq.vec_id
        WHERE uq.vec_id < {MS_NQ}
        GROUP BY uq.vec_id, uq.s, uc.vec_id, uc.s
    ), best AS (
        SELECT q_id, qs, cand, MAX(dot) AS best_dot
        FROM dots GROUP BY q_id, qs, cand
    ), score AS (
        SELECT q_id, cand, CAST(SUM(best_dot) AS BIGINT) AS maxsim_fx
        FROM best GROUP BY q_id, cand
    )
    SELECT q_id, CAST(rnk AS BIGINT) AS rank, cand AS vec_id, maxsim_fx
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                                       ORDER BY maxsim_fx DESC, cand) AS rnk
          FROM score)
    WHERE rnk <= {MS_K}
""".replace("{FX}", str(FX_SCALE))


@declared("q_maxsim_topk", oracle=_MAXSIM_ORACLE)
def q_maxsim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATE-INTERACTION retrieval (the ColBERT MaxSim operator): each
    embedding is decomposed into {MS_SUB} independent {MS_SUBDIM}-dim
    sub-vectors (standing in for per-token vectors — the testdata carries
    one vector per item), each sub-vector L2-normalized in shared fixed
    point, and score(q, d) = sum over q's sub-vectors of the MAX dot
    against any of d's sub-vectors — the sum-of-max interaction that makes
    ColBERT-style retrieval strictly richer than single-vector cosine
    (a doc matches if EACH aspect of the query finds SOME aspect of the
    doc). Top-{MS_K} per query (vec_id < {MS_NQ}) with integer MaxSim
    scores, hash-verified.

    Engine-exactness: per-slice unit vectors use the _unit_fx_expr
    arithmetic (integer-first quantization, one sqrt, one rounded division
    per element — zero-norm slices guarded to 0 identically); MaxSim is
    MAX/SUM over BIGINT dots; rank ties break on candidate id.

    Scale notes (100 TB): the query side is {MS_NQ} x {MS_SUB} unit
    sub-vectors — broadcast (the broadcast-the-query rule); the corpus
    side is one narrow (vec_id, s, u) pass; the interaction is
    sum-of-max over a per-(query, cand) group — map-side-combinable
    after the broadcast join, no corpus self-join. Production composes
    this with the ANN family: IVF/binary shortlist first, MaxSim re-rank
    on the <= M survivors (exactly q_pq_rerank's shortlist-then-exact
    shape with MaxSim as the exact scorer)."""
    t = load_tables(spark, sf_dir)
    u = maxsim_slice_units(t.embeddings)
    q = F.broadcast(
        u.filter(F.col("vec_id") < MS_NQ).select(
            F.col("vec_id").alias("q_id"),
            F.col("s").alias("qs"),
            F.col("u").alias("qu"),
        )
    )
    dots = (
        u.crossJoin(q)
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "qs",
            F.col("vec_id").alias("cand"),
            F.col("s").alias("cs"),
            F.aggregate(
                F.zip_with(F.col("u"), F.col("qu"), lambda x, y: x * y),
                F.lit(0).cast("bigint"),
                lambda a, v: a + v,
            ).alias("dot"),
        )
    )
    score = (
        dots.groupBy("q_id", "qs", "cand")
        .agg(F.max("dot").alias("best_dot"))
        .groupBy("q_id", "cand")
        .agg(F.sum("best_dot").cast("bigint").alias("maxsim_fx"))
    )
    rw = Window.partitionBy("q_id").orderBy(F.desc("maxsim_fx"), "cand")
    return (
        score.withColumn("rank", F.row_number().over(rw).cast("bigint"))
        .filter(F.col("rank") <= MS_K)
        .select("q_id", "rank", F.col("cand").alias("vec_id"), "maxsim_fx")
    )


# --------------------------------------------------------------------------
# q_topk_bounds — distributed top-k with Fagin/TA-style bound certificates:
# global candidates from per-shard top-m, lower/upper count bounds, and the
# guaranteed-membership certificate, audited against the exact answer
# --------------------------------------------------------------------------

TKB_M = 5  # per-shard (per-source) reported top-m
TKB_K = 5  # global top-k sought

_TOPK_BOUNDS_ORACLE = f"""
    WITH wc AS (
        SELECT source, w, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM (SELECT source, unnest(string_split(text, ' ')) AS w
              FROM documents)
        GROUP BY source, w
    ), ranked AS (
        SELECT source, w, cnt,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY cnt DESC, w) AS rnk,
               COUNT(*) OVER (PARTITION BY source) AS n_words
        FROM wc
    ), rep AS (
        SELECT source, w, cnt FROM ranked WHERE rnk <= {TKB_M}
    ), thr AS (
        -- a shard's unreported words each count <= its m-th reported count;
        -- a shard with <= m distinct words reports everything (thr = 0)
        SELECT source,
               CAST(CASE WHEN MAX(n_words) > {TKB_M}
                         THEN MAX(CASE WHEN rnk = {TKB_M} THEN cnt END)
                         ELSE 0 END AS BIGINT) AS thr
        FROM ranked GROUP BY source
    ), tot_thr AS (
        SELECT CAST(SUM(thr) AS BIGINT) AS total_thr FROM thr
    ), cand AS (
        SELECT w,
               CAST(SUM(cnt) AS BIGINT) AS lb,
               CAST(COUNT(*) AS BIGINT) AS n_reporting,
               CAST(SUM(cnt) + (SELECT total_thr FROM tot_thr)
                    - SUM((SELECT thr FROM thr t WHERE t.source = rep.source))
                    AS BIGINT) AS ub
        FROM rep GROUP BY w
    ), certified AS (
        SELECT c.w, c.lb, c.ub, c.n_reporting,
               CAST((SELECT COUNT(*) FROM cand o
                     WHERE o.w <> c.w AND o.ub > c.lb) AS BIGINT)
                   AS n_possibly_above
        FROM cand c
    ), truth AS (
        SELECT w, CAST(SUM(cnt) AS BIGINT) AS exact_cnt
        FROM wc GROUP BY w
    ), true_topk AS (
        -- TakeOrdered, not a global rank window (the q_topk idiom)
        SELECT w FROM truth ORDER BY exact_cnt DESC, w LIMIT {TKB_K}
    )
    SELECT ce.w AS word, ce.lb, ce.ub, ce.n_reporting, ce.n_possibly_above,
           CAST(CASE WHEN ce.n_possibly_above < {TKB_K}
                      AND ce.lb >= (SELECT total_thr FROM tot_thr)
                     THEN 1 ELSE 0 END AS BIGINT) AS guaranteed,
           t.exact_cnt,
           CAST(CASE WHEN ce.w IN (SELECT w FROM true_topk)
                     THEN 1 ELSE 0 END AS BIGINT) AS in_true_topk,
           CAST(CASE WHEN ce.lb <= t.exact_cnt AND t.exact_cnt <= ce.ub
                     THEN 1 ELSE 0 END AS BIGINT) AS bound_holds
    FROM certified ce JOIN truth t ON t.w = ce.w
"""


@declared("q_topk_bounds", oracle=_TOPK_BOUNDS_ORACLE)
def q_topk_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTRIBUTED TOP-K WITH BOUND CERTIFICATES (the Fagin/threshold-
    algorithm reasoning every scatter-gather top-k rests on): each shard
    (source) reports only its local top-{TKB_M} word counts; the merge
    derives, per candidate, a LOWER bound (sum of reported counts) and an
    UPPER bound (+ each silent shard's m-th reported count — a shard
    cannot hide more than its own reporting threshold), and the membership
    CERTIFICATE: a candidate is GUARANTEED global top-{TKB_K} iff fewer
    than {TKB_K} other candidates have ub above its lb AND its lb is at
    least total_thr — the upper bound on any word reported by NO shard
    (such a word never becomes a candidate, yet its true count can reach
    the sum of all shard thresholds, so a certificate that ignores it is
    unsound; ADVICE r12). The exact global
    counts ride beside the bounds (bound_holds, in_true_topk — both
    hash-verified), so the certificate logic is AUDITED, not asserted.
    This is the correctness core of every per-executor-partial top-k
    (q_topk_salted ships the performance half; this ships the bound
    arithmetic that says when partial views are ENOUGH and when a second
    round-trip is needed).

    Corpus regime note: the synthetic corpus's 31-word vocabulary is
    near-UNIFORM, so every certificate is honestly OPEN (guaranteed = 0
    for all candidates — the bounds overlap) — which is the CORRECT
    threshold-algorithm answer for uniform data: partial views cannot
    early-terminate, a second exchange is needed for the whole candidate
    set. The certificate logic itself (closing on skewed data) is pinned
    by a planted-skew pure-Python fixture in tests/test_round12_ops.py;
    what the corpus rows hash-verify is the bound arithmetic
    (bound_holds = 1 everywhere) and the candidate-completeness audit
    (every true top-{TKB_K} word is a candidate).

    Engine-exactness: integer counts; per-shard rank ties (cnt DESC, w);
    thr = 0 for shards reporting their whole vocabulary; the
    possibly-above count uses strict ub > lb on both sides.

    Scale notes (100 TB): shards ship m rows each — the merge input is
    O(m x shards) regardless of corpus size (the entire point); the
    candidate certificate is an O(candidates^2) comparison on that tiny
    frame (50 rows here; a 10k-shard merge is 50k rows — still one
    executor). The exact-truth side is the audit; production runs
    bounds-only and pays a second targeted exchange for any candidate
    whose certificate is open (guaranteed = 0)."""
    t = load_tables(spark, sf_dir)
    wc = (
        t.documents.select(
            "source", F.explode(F.split("text", " ")).alias("w")
        )
        .groupBy("source", "w")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    # Stage the per-shard word census to parquet scratch (the r10
    # staged-scratch idiom, VERDICT r12 #7): six branches (rep, thr,
    # tot_thr, cand, truth, true_topk) consume wc — inlined, each one
    # re-scanned and re-aggregated the CORPUS (28 exchanges); staged,
    # the corpus is read once and every branch scans the vocab-sized
    # (source, w, cnt) BIGINT summary. Bit-exact round-trip (BIGINT +
    # strings only) — hashes re-attested at all 3 SFs.
    wc_path = scratch_dir("tkb_wc", sf_dir)
    wc.write.mode("overwrite").parquet(wc_path)
    wc = spark.read.parquet(wc_path)
    sw = Window.partitionBy("source")
    ranked = wc.select(
        "source",
        "w",
        "cnt",
        F.row_number()
        .over(sw.orderBy(F.desc("cnt"), "w"))
        .alias("rnk"),
        F.count("*").over(sw).alias("n_words"),
    )
    rep = ranked.filter(F.col("rnk") <= TKB_M)
    thr = ranked.groupBy("source").agg(
        F.when(
            F.max("n_words") > TKB_M,
            F.max(F.when(F.col("rnk") == TKB_M, F.col("cnt"))),
        )
        .otherwise(0)
        .cast("bigint")
        .alias("thr")
    )
    tot_thr = F.broadcast(
        thr.agg(F.sum("thr").cast("bigint").alias("total_thr"))
    )
    cand = (
        rep.join(F.broadcast(thr), "source")
        .groupBy("w")
        .agg(
            F.sum("cnt").cast("bigint").alias("lb"),
            F.count("*").cast("bigint").alias("n_reporting"),
            F.sum("thr").cast("bigint").alias("rep_thr"),
        )
        .crossJoin(tot_thr)
        .select(
            "w",
            "lb",
            "n_reporting",
            (F.col("lb") + F.col("total_thr") - F.col("rep_thr"))
            .cast("bigint")
            .alias("ub"),
            "total_thr",
        )
    )
    other = cand.select(
        F.col("w").alias("o_w"), F.col("ub").alias("o_ub")
    )
    certified = (
        cand.join(
            F.broadcast(other),
            (F.col("o_w") != F.col("w")) & (F.col("o_ub") > F.col("lb")),
            "left",
        )
        .groupBy("w", "lb", "ub", "n_reporting", "total_thr")
        .agg(F.count("o_w").cast("bigint").alias("n_possibly_above"))
    )
    truth = wc.groupBy(F.col("w").alias("t_w")).agg(
        F.sum("cnt").cast("bigint").alias("exact_cnt")
    )
    # TakeOrdered (orderBy+limit), not a global rank window
    true_topk = F.broadcast(
        truth.orderBy(F.desc("exact_cnt"), "t_w")
        .limit(TKB_K)
        .select(F.col("t_w").alias("k_w"))
    )
    return (
        certified.join(F.broadcast(truth), certified.w == F.col("t_w"))
        .join(true_topk, certified.w == F.col("k_w"), "left")
        .select(
            F.col("w").alias("word"),
            "lb",
            "ub",
            "n_reporting",
            "n_possibly_above",
            F.when(
                (F.col("n_possibly_above") < TKB_K)
                & (F.col("lb") >= F.col("total_thr")),
                1,
            )
            .otherwise(0)
            .cast("bigint")
            .alias("guaranteed"),
            "exact_cnt",
            F.when(F.col("k_w").isNotNull(), 1)
            .otherwise(0)
            .cast("bigint")
            .alias("in_true_topk"),
            F.when(
                (F.col("lb") <= F.col("exact_cnt"))
                & (F.col("exact_cnt") <= F.col("ub")),
                1,
            )
            .otherwise(0)
            .cast("bigint")
            .alias("bound_holds"),
        )
    )


# --------------------------------------------------------------------------
# q_batch_padding — length-bucketed batch assembly with the padding-waste
# audit: the seqlen-bucketing decision every training pipeline makes
# --------------------------------------------------------------------------

BP_BUCKET = 16  # length-bucket width (words)
BP_BATCH = 8  # sequences per batch
BP_SHARD = 256  # docs per arrival shard (multiple of BP_BATCH)

_BATCH_PADDING_ORACLE = f"""
    WITH d AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        FROM documents
    ), bucketed AS (
        SELECT 'bucketed' AS strategy, doc_id, n_tok,
               (ROW_NUMBER() OVER (PARTITION BY n_tok // {BP_BUCKET}
                                   ORDER BY n_tok, doc_id) - 1)
                   // {BP_BATCH} AS local_batch,
               n_tok // {BP_BUCKET} AS grp
        FROM d
        UNION ALL
        -- arrival batching is PER SHARD of {BP_SHARD} docs (doc_id //
        -- {BP_SHARD}) — a production arrival batcher sees one shard's
        -- stream, never a corpus-global order (VERDICT r12 #2)
        SELECT 'arrival' AS strategy, doc_id, n_tok,
               (ROW_NUMBER() OVER (PARTITION BY doc_id // {BP_SHARD}
                                   ORDER BY doc_id) - 1) // {BP_BATCH}
                   AS local_batch,
               doc_id // {BP_SHARD} AS grp
        FROM d
    ), batches AS (
        SELECT strategy, grp, local_batch,
               CAST(COUNT(*) AS BIGINT) AS n_seqs,
               CAST(SUM(n_tok) AS BIGINT) AS real_tokens,
               CAST(COUNT(*) * MAX(n_tok) AS BIGINT) AS padded_tokens
        FROM bucketed GROUP BY strategy, grp, local_batch
    )
    SELECT strategy,
           CAST(COUNT(*) AS BIGINT) AS n_batches,
           CAST(SUM(n_seqs) AS BIGINT) AS n_seqs,
           CAST(SUM(real_tokens) AS BIGINT) AS real_tokens,
           CAST(SUM(padded_tokens) AS BIGINT) AS padded_tokens,
           CAST(10000 * (SUM(padded_tokens) - SUM(real_tokens))
                // SUM(padded_tokens) AS BIGINT) AS waste_bp
    FROM batches GROUP BY strategy
"""


@declared("q_batch_padding", oracle=_BATCH_PADDING_ORACLE)
def q_batch_padding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LENGTH-BUCKETED BATCH ASSEMBLY with the padding-waste audit — the
    seqlen-bucketing decision every fixed-shape training loop makes (a
    batch pads every sequence to its longest member, so batching by
    ARRIVAL order burns FLOPs on pad tokens; batching within
    {BP_BUCKET}-word length buckets bounds the intra-batch spread):
    assemble {BP_BATCH}-sequence batches under BOTH strategies from the
    same corpus and emit, per strategy, batch count, real vs padded token
    totals and the padding-waste fraction in bp — the measured FLOP tax
    the bucketing removes. Complements q_pack (which ELIMINATES padding
    by concatenation where the objective allows crossing document
    boundaries; bucketing is what you do when it doesn't, e.g. SFT with
    per-example loss masks).

    Engine-exactness: deterministic assembly order (within-bucket:
    n_tok then doc_id; arrival: doc_id within a {BP_SHARD}-doc shard),
    integer token counts, floor-divided waste bp. Shard size is a
    multiple of {BP_BATCH}, so sharding the arrival stream changes batch
    composition only at the corpus tail — the waste arithmetic is the
    same decision a single global stream would price.

    Scale notes (100 TB): BOTH windows are partition-bounded — bucketed
    assembly partitions by length bucket, arrival assembly partitions by
    a deterministic {BP_SHARD}-doc shard key (doc_id DIV {BP_SHARD}),
    which is what a production arrival batcher actually sees (each
    loader consumes one shard's stream; a corpus-global arrival order
    never exists at 100 TB, and the r12 version that modeled it as one
    unpartitioned ROW_NUMBER window was the plan's scale-killer —
    VERDICT r12 #2). The audit aggregates are map-side-combined per
    (strategy, shard/bucket, batch). The waste_bp delta is the number
    that justifies the extra shuffle a bucketed batcher costs."""
    t = load_tables(spark, sf_dir)
    d = t.documents.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tok"),
    )
    wb = Window.partitionBy(
        F.expr(f"n_tok DIV {BP_BUCKET}")
    ).orderBy("n_tok", "doc_id")
    wa = Window.partitionBy(
        F.expr(f"doc_id DIV {BP_SHARD}")
    ).orderBy("doc_id")
    bucketed = d.select(
        F.lit("bucketed").alias("strategy"),
        "doc_id",
        "n_tok",
        F.expr(f"n_tok DIV {BP_BUCKET}").alias("grp"),
        ((F.row_number().over(wb) - 1) / BP_BATCH)
        .cast("bigint")
        .alias("local_batch"),
    ).unionByName(
        d.select(
            F.lit("arrival").alias("strategy"),
            "doc_id",
            "n_tok",
            F.expr(f"doc_id DIV {BP_SHARD}").alias("grp"),
            ((F.row_number().over(wa) - 1) / BP_BATCH)
            .cast("bigint")
            .alias("local_batch"),
        )
    )
    return (
        bucketed.groupBy("strategy", "grp", "local_batch")
        .agg(
            F.count("*").cast("bigint").alias("n_seqs"),
            F.sum("n_tok").cast("bigint").alias("real_tokens"),
            (F.count("*") * F.max("n_tok"))
            .cast("bigint")
            .alias("padded_tokens"),
        )
        .groupBy("strategy")
        .agg(
            F.count("*").cast("bigint").alias("n_batches"),
            F.sum("n_seqs").cast("bigint").alias("n_seqs"),
            F.sum("real_tokens").cast("bigint").alias("real_tokens"),
            F.sum("padded_tokens").cast("bigint").alias("padded_tokens"),
        )
        .select(
            "strategy",
            "n_batches",
            "n_seqs",
            "real_tokens",
            "padded_tokens",
            F.expr(
                "CAST(10000 * (padded_tokens - real_tokens)"
                " DIV padded_tokens AS BIGINT)"
            ).alias("waste_bp"),
        )
    )


# --------------------------------------------------------------------------
# q_quant_sweep — the scalar-quantization BITS operating curve: rank
# displacement of the exact NN at 2/4/8 bits per dimension, one pass
# --------------------------------------------------------------------------

QS_BITS = (2, 4, 8)  # bits per dimension; levels = 2^(b-1) - 1 (symmetric)

_QUANT_SWEEP_ORACLE = f"""
    WITH {_U_CTE}, mx AS (
        SELECT vec_id, MAX(ABS(x)) AS mabs FROM ex GROUP BY vec_id
    ), qv AS (
        SELECT b.bits, e.vec_id, e.i,
               CAST(FLOOR(e.x * (CASE WHEN m.mabs = 0 THEN 0.0
                                      ELSE (POWER(2, b.bits - 1) - 1) / m.mabs
                                 END) + 0.5) AS BIGINT) AS qi
        FROM ex e
        JOIN mx m ON m.vec_id = e.vec_id
        CROSS JOIN (VALUES {", ".join(f"({b})" for b in QS_BITS)}) AS b(bits)
    ), dots_exact AS (
        SELECT uq.vec_id AS q_id, uc.vec_id AS cand,
               CAST(SUM(uq.xi * uc.xi) AS BIGINT) AS dot_fx
        FROM u uq JOIN u uc ON uc.i = uq.i AND uc.vec_id <> uq.vec_id
        WHERE uq.vec_id < {RE_NQ}
        GROUP BY uq.vec_id, uc.vec_id
    ), truth AS (
        SELECT q_id, cand AS true_nn
        FROM (SELECT *, ROW_NUMBER() OVER (
                  PARTITION BY q_id ORDER BY dot_fx DESC, cand) AS r
              FROM dots_exact) WHERE r = 1
    ), dots_q AS (
        SELECT a.bits, a.vec_id AS q_id, b2.vec_id AS cand,
               CAST(SUM(a.qi * b2.qi) AS BIGINT) AS dotq
        FROM qv a JOIN qv b2 ON b2.bits = a.bits AND b2.i = a.i
                           AND b2.vec_id <> a.vec_id
        WHERE a.vec_id < {RE_NQ}
        GROUP BY a.bits, a.vec_id, b2.vec_id
    ), ranks AS (
        SELECT d.bits, d.q_id, t.true_nn,
               CAST(sr.sys_rank AS BIGINT) AS sys_rank
        FROM (SELECT DISTINCT bits, q_id FROM dots_q) d
        JOIN truth t ON t.q_id = d.q_id
        JOIN (SELECT bits, q_id, cand,
                     ROW_NUMBER() OVER (PARTITION BY bits, q_id
                                        ORDER BY dotq DESC, cand) AS sys_rank
              FROM dots_q) sr
          ON sr.bits = d.bits AND sr.q_id = d.q_id AND sr.cand = t.true_nn
    )
    SELECT CAST(bits AS BIGINT) AS bits,
           CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST(SUM(CASE WHEN sys_rank = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS top1_hits,
           CAST(SUM(10000 // sys_rank) // COUNT(*) AS BIGINT)
               AS mean_rr_bp,
           CAST(MAX(sys_rank) AS BIGINT) AS worst_rank
    FROM ranks GROUP BY bits
"""


@declared("q_quant_sweep", oracle=_QUANT_SWEEP_ORACLE)
def q_quant_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALAR-QUANTIZATION BITS OPERATING CURVE — the knob curve for
    the compression family (the house rule: every approximate structure
    ships its curve — q_nprobe_sweep for IVF, q_binary_sweep for 1-bit,
    q_lsh_sweep for banding, q_simhash_sweep for radius — now bits/dim
    for scalar quantization): per bits b in {QS_BITS}, quantize every
    embedding to symmetric b-bit codes (levels = 2^(b-1)-1, the
    q_embed_quant half-up construction) and measure, per query (vec_id <
    {RE_NQ}), where the b-bit dot ranking places the EXACT fixed-point-
    cosine nearest neighbor: top-1 hits, mean reciprocal rank (integer
    bp), worst rank. One pass: codes for all widths are generated from
    one scan (the q_lsh_sweep multi-config idiom), the exact truth is
    computed once and shared. The memory/quality trade in one
    hash-verified table: 16x compression (2-bit) vs 4x (8-bit), priced
    in rank displacement rather than asserted.

    Engine-exactness: codes are FLOOR(x*scale + 0.5) with scale =
    (2^(b-1)-1)/max|x| — one IEEE quotient per (vec, bits); POWER(2, b-1)
    on small integers is exact in both engines; rankings are integer
    dots with candidate-id tie-break; mean_rr floor-divides a sum of
    integer reciprocal ranks.

    Scale notes (100 TB): the query side broadcasts; the candidate side
    is |bits| narrow passes over integer code arrays; rankings are
    per-(bits, query) windows over candidate counts. Production composes
    the chosen width with the ANN shortlist family (this curve picks the
    width; q_rank_eval is its single-width deep readout)."""
    t = load_tables(spark, sf_dir)
    mabs = F.array_max(
        F.expr("transform(embedding, v -> abs(CAST(v AS DOUBLE)))")
    )
    base = t.embeddings.select(
        "vec_id", "embedding", _unit_fx_expr().alias("u"), mabs.alias("mabs")
    )
    qcols = [
        F.expr(
            f"transform(embedding, v -> CAST(FLOOR(CAST(v AS DOUBLE)"
            f" * (CASE WHEN mabs = 0 THEN 0.0D"
            f" ELSE CAST({2 ** (b - 1) - 1} AS DOUBLE) / mabs END)"
            f" + 0.5) AS BIGINT))"
        ).alias(f"q{b}")
        for b in QS_BITS
    ]
    coded = base.select("vec_id", "u", *qcols)
    q = F.broadcast(
        coded.filter(F.col("vec_id") < RE_NQ).select(
            F.col("vec_id").alias("q_id"),
            F.col("u").alias("qu"),
            *[F.col(f"q{b}").alias(f"qq{b}") for b in QS_BITS],
        )
    )
    scored = (
        coded.crossJoin(q)
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("cand"),
            F.aggregate(
                F.zip_with(F.col("u"), F.col("qu"), lambda x, y: x * y),
                F.lit(0).cast("bigint"),
                lambda a, v: a + v,
            ).alias("dot_fx"),
            *[
                F.aggregate(
                    F.zip_with(
                        F.col(f"q{b}"), F.col(f"qq{b}"), lambda x, y: x * y
                    ),
                    F.lit(0).cast("bigint"),
                    lambda a, v: a + v,
                ).alias(f"dot{b}")
                for b in QS_BITS
            ],
        )
    )
    tw = Window.partitionBy("q_id").orderBy(F.desc("dot_fx"), "cand")
    ranked = scored.select(
        "q_id",
        "cand",
        F.row_number().over(tw).alias("t_rank"),
        *[
            F.row_number()
            .over(Window.partitionBy("q_id").orderBy(F.desc(f"dot{b}"), "cand"))
            .cast("bigint")
            .alias(f"rank{b}")
            for b in QS_BITS
        ],
    ).filter(F.col("t_rank") == 1)
    per_bits = None
    for b in QS_BITS:
        fb = ranked.select(
            F.lit(b).cast("bigint").alias("bits"),
            F.col(f"rank{b}").alias("sys_rank"),
        )
        per_bits = fb if per_bits is None else per_bits.unionByName(fb)
    return per_bits.groupBy("bits").agg(
        F.count("*").cast("bigint").alias("n_queries"),
        F.sum(F.when(F.col("sys_rank") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("top1_hits"),
        F.expr("CAST(SUM(10000 DIV sys_rank) DIV COUNT(*) AS BIGINT)").alias(
            "mean_rr_bp"
        ),
        F.max("sys_rank").cast("bigint").alias("worst_rank"),
    )
