"""Corpus-curation operators (task Tier-D extension, round 4): the decision
stages a pretraining data pipeline runs AFTER cleaning/dedup/scoring and
BEFORE tokenization — deterministic train/val/test splitting, per-source
token-budget allocation (data mixing), boilerplate-template auditing,
CCNet-style per-language quality bucketing, cluster-aware fold splitting,
and doc-level release diffs.

All are JVM-side built-ins only — zero Python UDFs — and each has a
full DuckDB oracle. Cross-engine determinism follows the house rules:
md5-threshold hashing for sampling decisions (q_mix_sample's trick), exact
integer sums divided once for means (never AVG over accumulated doubles,
whose summation order varies), and total window orders pinned with doc_id
tiebreaks.

Scale notes (100 TB):
- split assignment is a narrow projection (a doc's split never depends on
  other docs), so the corpus never shuffles for the decision itself; the
  reported audit aggregate shuffles only (split, lang) partials.
- token-budget allocation aggregates corpus→per-source partials map-side
  (low-cardinality key, combiner-friendly), then does all mixing arithmetic
  on the tiny per-source table; the corpus is touched exactly once.
- template spectrum shuffles 32-byte md5 digests (not text payloads), then
  re-aggregates the digest-level counts — second shuffle is
  cluster-size-cardinality (tiny).
- quality bucketing: the per-language NTILE window is the one genuinely
  rank-global stage; it shuffles doc-LEVEL scores (3 numbers/doc, not
  text), partitioned by lang. For a single giant language at 100 TB the
  production form is approx-percentile thresholds (2-pass, no total sort);
  the exact window is kept here because the oracle gate needs bit-equal
  bucket boundaries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans.registry import declared
from ..sources.catalog import load_tables
from .textprep import fraction_hex, hex_to_int_sql, words_col
from .textstats import SURPRISAL_DOC_SQL, surprisal_per_doc

# --------------------------------------------------------------------------
# Deterministic train/val/test split
# --------------------------------------------------------------------------

SPLIT_TRAIN = 0.8  # [0.0, 0.8) → train
SPLIT_VAL = 0.9    # [0.8, 0.9) → val; [0.9, 1.0) → test


_SPLIT_ORACLE = f"""
    WITH d AS (
        SELECT lang,
               LEN(string_split(text, ' ')) AS n_tokens,
               n_chars,
               substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 15) AS hv
        FROM documents
    )
    SELECT CASE WHEN hv < '{fraction_hex(SPLIT_TRAIN)}' THEN 'train'
                WHEN hv < '{fraction_hex(SPLIT_VAL)}' THEN 'val'
                ELSE 'test' END AS split,
           lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM d GROUP BY 1, 2
"""


@declared("q_split", oracle=_SPLIT_ORACLE)
def q_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split audit, keyed by
    md5(doc_id) threshold — the q_mix_sample hashing trick applied to
    dataset splitting. The properties that matter for training data: a
    document's split NEVER flips when the corpus grows (no RNG, no seed
    coordination, no global count), val/test never leak into train across
    reruns or re-partitions, and the decision is a shuffle-free narrow
    projection at any scale. Output is the per-(split, lang) audit a
    pipeline records next to the written splits."""
    t = load_tables(spark, sf_dir)
    hv = F.substring(
        F.md5(F.concat(F.lit("split|"), F.col("doc_id").cast("string"))), 1, 15
    )
    split = (
        F.when(hv < F.lit(fraction_hex(SPLIT_TRAIN)), "train")
        .when(hv < F.lit(fraction_hex(SPLIT_VAL)), "val")
        .otherwise("test")
    )
    return (
        t.documents.select(
            split.alias("split"),
            "lang",
            F.size(words_col("text")).alias("n_tokens"),
            "n_chars",
        )
        .groupBy("split", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
    )


# --------------------------------------------------------------------------
# Per-source token-budget allocation (data mixing)
# --------------------------------------------------------------------------

# up-/down-weighting per source domain; unlisted sources weight 1.0
BUDGET_WEIGHTS: dict[str, float] = {"src0": 4.0, "src1": 2.0, "src2": 2.0, "src3": 2.0}
BUDGET_DEFAULT_WEIGHT = 1.0
BUDGET_FRACTION = 0.5  # target corpus = 50% of available tokens


def _weight_case_sql() -> str:
    cases = " ".join(
        f"WHEN source = '{k}' THEN {v!r}" for k, v in sorted(BUDGET_WEIGHTS.items())
    )
    return f"CASE {cases} ELSE {BUDGET_DEFAULT_WEIGHT!r} END"


_BUDGET_ORACLE = f"""
    WITH per_src AS (
        SELECT source,
               CAST(SUM(LEN(string_split(text, ' '))) AS BIGINT) AS avail_tokens,
               {_weight_case_sql()} AS weight
        FROM documents GROUP BY source
    ), tot AS (
        SELECT CAST(SUM(avail_tokens) AS BIGINT) AS total_tokens,
               SUM(weight) AS sum_w
        FROM per_src
    )
    SELECT p.source, p.avail_tokens, p.weight,
           (CAST(t.total_tokens AS DOUBLE) * {BUDGET_FRACTION!r} * p.weight) / t.sum_w
               AS target_tokens,
           LEAST(CAST(p.avail_tokens AS DOUBLE),
                 (CAST(t.total_tokens AS DOUBLE) * {BUDGET_FRACTION!r} * p.weight) / t.sum_w)
               AS alloc_tokens,
           LEAST(CAST(p.avail_tokens AS DOUBLE),
                 (CAST(t.total_tokens AS DOUBLE) * {BUDGET_FRACTION!r} * p.weight) / t.sum_w)
               / CAST(p.avail_tokens AS DOUBLE) AS keep_rate,
           CAST(p.avail_tokens AS DOUBLE)
               < (CAST(t.total_tokens AS DOUBLE) * {BUDGET_FRACTION!r} * p.weight) / t.sum_w
               AS exhausted
    FROM per_src p CROSS JOIN tot t
"""


@declared("q_token_budget", oracle=_BUDGET_ORACLE)
def q_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-budget allocation — the data-mixing computation
    behind weighted pretraining mixtures: given per-source quality weights
    and a global token budget (here 50% of available tokens), each source's
    target is its weight-share of the budget, capped by what it actually
    has (`exhausted` marks sources whose full supply is consumed; a
    production loop would redistribute their shortfall — one more pass over
    this same tiny table).

    Engine-exactness: every input to the double arithmetic is an exact
    integer (token sums) or an exact small literal weight, and both engines
    evaluate the identical parenthesized expression tree, so the doubles are
    bit-equal without rounding. sum_w is a sum of integer-valued doubles —
    exact in any accumulation order.

    Scale notes: the corpus aggregates to per-source partials map-side (20
    keys → combiner does nearly all the work; the low-cardinality key makes
    the shuffle tiny rather than skewed); all mixing arithmetic then runs on
    the source-cardinality table with a 1-row broadcast total."""
    t = load_tables(spark, sf_dir)
    weight = F.lit(BUDGET_DEFAULT_WEIGHT)
    for k, v in sorted(BUDGET_WEIGHTS.items(), reverse=True):
        weight = F.when(F.col("source") == k, F.lit(v)).otherwise(weight)
    per_src = (
        t.documents.select("source", F.size(words_col("text")).alias("n_tokens"))
        .groupBy("source")
        .agg(F.sum("n_tokens").cast("bigint").alias("avail_tokens"))
        .withColumn("weight", weight)
    )
    tot = per_src.agg(
        F.sum("avail_tokens").cast("bigint").alias("total_tokens"),
        F.sum("weight").alias("sum_w"),
    )
    target = (
        F.col("total_tokens").cast("double") * F.lit(BUDGET_FRACTION) * F.col("weight")
    ) / F.col("sum_w")
    avail_d = F.col("avail_tokens").cast("double")
    alloc = F.least(avail_d, target)
    return per_src.crossJoin(F.broadcast(tot)).select(
        "source",
        "avail_tokens",
        "weight",
        target.alias("target_tokens"),
        alloc.alias("alloc_tokens"),
        (alloc / avail_d).alias("keep_rate"),
        (avail_d < target).alias("exhausted"),
    )


# --------------------------------------------------------------------------
# Boilerplate-template spectrum (duplication-profile audit)
# --------------------------------------------------------------------------

TEMPLATE_PREFIX_WORDS = 5


_TEMPLATE_ORACLE = f"""
    WITH keyed AS (
        SELECT md5(array_to_string((string_split(text, ' '))[1:{TEMPLATE_PREFIX_WORDS}], ' '))
                   AS tkey
        FROM documents
    ), clusters AS (
        SELECT tkey, COUNT(*) AS csize FROM keyed GROUP BY tkey
    )
    SELECT CAST(csize AS BIGINT) AS cluster_size,
           COUNT(*) AS n_clusters,
           CAST(SUM(csize) AS BIGINT) AS n_docs,
           CAST(SUM(csize - 1) AS BIGINT) AS n_excess
    FROM clusters GROUP BY csize
"""


@declared("q_template_spectrum", oracle=_TEMPLATE_ORACLE)
def q_template_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication/boilerplate spectrum: cluster documents by a content key
    (here the md5 of the first {5} words — the classic boilerplate-template
    detector) and histogram the cluster sizes. The output answers "how
    duplicated is this corpus": n_excess summed over rows is exactly the
    row count a keep-one-per-cluster pass would delete. The same plan with
    the key swapped to md5(full text) (dedup.py's digest) yields the
    exact-duplicate spectrum; prefix keying is used here because it is what
    surfaces template boilerplate that exact-dedup misses.

    Scale notes: first aggregate shuffles 32-byte digests with map-side
    combine (never the text payload); the second aggregate's input is
    cluster-count-sized and its key (cluster_size) has trivial cardinality."""
    t = load_tables(spark, sf_dir)
    tkey = F.md5(F.concat_ws(" ", F.slice(words_col("text"), 1, TEMPLATE_PREFIX_WORDS)))
    clusters = t.documents.select(tkey.alias("tkey")).groupBy("tkey").agg(
        F.count("*").alias("csize")
    )
    return clusters.groupBy("csize").agg(
        F.count("*").alias("n_clusters"),
        F.sum("csize").cast("bigint").alias("n_docs"),
        F.sum(F.col("csize") - 1).cast("bigint").alias("n_excess"),
    ).select(
        F.col("csize").cast("bigint").alias("cluster_size"),
        "n_clusters",
        "n_docs",
        "n_excess",
    )


# --------------------------------------------------------------------------
# CCNet-style per-language quality buckets (head / middle / tail)
# --------------------------------------------------------------------------

_CCNET_ORACLE = f"""
    WITH scores AS ({SURPRISAL_DOC_SQL}),
    bucketed AS (
        SELECT d.lang, s.n_words, s.sum_surprisal, s.avg_surprisal,
               NTILE(3) OVER (PARTITION BY d.lang
                              ORDER BY s.avg_surprisal, s.doc_id) AS tier_id
        FROM scores s JOIN documents d ON s.doc_id = d.doc_id
    )
    SELECT lang,
           CAST(tier_id AS INT) AS tier_id,
           CASE tier_id WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS tier,
           COUNT(*) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS n_words,
           CAST(SUM(sum_surprisal) AS DOUBLE) / CAST(SUM(n_words) AS DOUBLE)
               AS mean_surprisal,
           MIN(avg_surprisal) AS min_surprisal,
           MAX(avg_surprisal) AS max_surprisal
    FROM bucketed GROUP BY lang, tier_id
"""


@declared("q_ccnet_bucket", oracle=_CCNET_ORACLE)
def q_ccnet_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style quality bucketing: score every document by quantized
    unigram surprisal (textstats.surprisal_per_doc — the engine-exact
    perplexity stand-in) and cut each language into head/middle/tail
    tertiles; the head (most fluent / lowest surprisal) is what CCNet keeps
    for pretraining. Output is the per-bucket audit: document and token
    mass plus the surprisal range each bucket spans.

    Engine-exactness: tertile boundaries come from NTILE over a TOTAL order
    (avg_surprisal is a deterministic exact-int ratio; doc_id breaks ties),
    so both engines cut identically; bucket means divide two exact bigint
    sums once (never AVG over doubles, whose accumulation order differs);
    min/max are order-independent.

    Scale notes: the NTILE window shuffles doc-LEVEL score rows (4 numbers
    per doc) partitioned by lang — the corpus text never reaches the sort.
    lang rides through the per-doc aggregate (carry=) instead of joining
    back to the corpus — same grouping (lang is doc-functionally
    dependent), one corpus-sized shuffle join saved; the oracle keeps the
    join form, which is the point of the cross-engine gate. At 100 TB with
    one dominant language the production variant replaces the exact window
    with approx_percentile thresholds + a narrow bucket assignment (2
    passes, no per-lang total sort); exact NTILE is kept here for bit-equal
    oracle verification."""
    t = load_tables(spark, sf_dir)
    scores = surprisal_per_doc(t.documents, carry=("lang",))
    win = Window.partitionBy("lang").orderBy("avg_surprisal", "doc_id")
    b = scores.withColumn("tier_id", F.ntile(3).over(win))
    tier = (
        F.when(F.col("tier_id") == 1, "head")
        .when(F.col("tier_id") == 2, "middle")
        .otherwise("tail")
    )
    return b.groupBy("lang", F.col("tier_id").cast("int").alias("tier_id")).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_words").cast("bigint").alias("n_words"),
        (F.sum("sum_surprisal").cast("double") / F.sum("n_words").cast("double")).alias(
            "mean_surprisal"
        ),
        F.min("avg_surprisal").alias("min_surprisal"),
        F.max("avg_surprisal").alias("max_surprisal"),
    ).select(
        "lang",
        "tier_id",
        tier.alias("tier"),
        "n_docs",
        "n_words",
        "mean_surprisal",
        "min_surprisal",
        "max_surprisal",
    )


# --------------------------------------------------------------------------
# Language-mixture diversity per source (quantized Shannon bits)
# --------------------------------------------------------------------------

_DIVERSITY_ORACLE = """
    WITH d AS (
        SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n
        FROM documents GROUP BY source, lang
    ), tot AS (
        SELECT source, CAST(SUM(n) AS BIGINT) AS total FROM d GROUP BY source
    )
    SELECT d.source,
           CAST(t.total AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_langs,
           CAST(SUM(d.n * (LENGTH(bin(t.total // d.n)) - 1)) AS BIGINT)
               AS sum_diversity_q,
           SUM(d.n * (LENGTH(bin(t.total // d.n)) - 1)) * 1e0 / t.total
               AS avg_diversity_bits
    FROM d JOIN tot t ON d.source = t.source
    GROUP BY d.source, t.total
"""


@declared("q_mixture_diversity", oracle=_DIVERSITY_ORACLE)
def q_mixture_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-mixture diversity per source: the quantized Shannon entropy
    of each source's language distribution (avg over docs of
    floor(log2(total/n_lang)) — the q_surprisal bit-length identity applied
    to the MIXTURE rather than the text). Zero bits = a monolingual source;
    high bits = an evenly mixed one. This is the balance statistic a
    multilingual data mix monitors per ingest source: a "diverse" source
    collapsing toward one language between crawls shifts the corpus mixture
    silently unless this number is tracked.

    Engine-exactness: pure integers until one final 1e0 division.

    Scale notes (100 TB): two combiner aggregates on (source, lang) — the
    corpus collapses to a sources×languages table before any join."""
    t = load_tables(spark, sf_dir)
    d = t.documents.groupBy("source", "lang").agg(
        F.count("*").cast("bigint").alias("n")
    )
    tot = d.groupBy("source").agg(F.sum("n").cast("bigint").alias("total"))
    q = (F.length(F.bin(F.expr("total div n"))) - 1).cast("bigint")
    return (
        d.join(F.broadcast(tot), "source")
        .groupBy("source", "total")
        .agg(
            F.count("*").cast("bigint").alias("n_langs"),
            F.sum(F.col("n") * q).cast("bigint").alias("sum_diversity_q"),
            (F.sum(F.col("n") * q) * F.lit(1.0) / F.col("total")).alias(
                "avg_diversity_bits"
            ),
        )
        .select(
            "source",
            F.col("total").alias("n_docs"),
            "n_langs",
            "sum_diversity_q",
            "avg_diversity_bits",
        )
    )


# --------------------------------------------------------------------------
# Deterministic global shuffle + sharding (training-order materialization)
# --------------------------------------------------------------------------

N_SHARDS = 16  # one md5 hex digit: exactly uniform, no modulo bias

_SHARD_ORACLE = """
    WITH k AS (
        SELECT doc_id, source, n_chars,
               md5('shard|' || CAST(doc_id AS VARCHAR)) AS h
        FROM documents
    ), s AS (
        SELECT CAST(strpos('0123456789abcdef', substr(h, 1, 1)) - 1 AS INT)
                   AS shard,
               doc_id, source, n_chars, h
        FROM k
    )
    SELECT shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
           min_by(doc_id, h) AS first_doc,
           MIN(h) AS first_key
    FROM s GROUP BY shard
"""


@declared("q_shard_shuffle", oracle=_SHARD_ORACLE)
def q_shard_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic GLOBAL SHUFFLE + sharding — the last step before
    training: every document gets a pseudorandom but reproducible position
    (md5 of its id), the first hex digit routes it to one of 16 shards
    (exactly uniform — no modulo bias), and WITHIN a shard the md5 key IS
    the training order. The audit reports per-shard doc count, token mass,
    source diversity, and the first document in shuffle order — the
    balance/determinism checks run before committing a multi-day training
    job to the order. Properties that matter at 100 TB: reproducible across
    reruns and executors (no RNG, no seed coordination), stable under
    re-partitioning, and shard assignment is a NARROW projection — the only
    shuffle is the 16-group aggregate; materializing the shards is a
    write with partitionBy(shard) + sortWithinPartitions(h), zero extra
    passes.

    Engine-exactness: md5-hex routing and min/min_by over unique keys
    (doc_id is unique ⇒ h is collision-free at these sizes) replay
    bit-for-bit in DuckDB."""
    t = load_tables(spark, sf_dir)
    h = F.md5(F.concat(F.lit("shard|"), F.col("doc_id").cast("string")))
    s = t.documents.select(
        F.conv(F.substring(h, 1, 1), 16, 10).cast("int").alias("shard"),
        "doc_id",
        "source",
        "n_chars",
        h.alias("h"),
    )
    return s.groupBy("shard").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("sum_chars"),
        F.countDistinct("source").cast("bigint").alias("n_sources"),
        F.min_by("doc_id", "h").alias("first_doc"),
        F.min("h").alias("first_key"),
    )


# --------------------------------------------------------------------------
# q_corpus_diff — dataset version diff (the release audit): classify every
# doc_id across two corpus versions as added / deleted / modified /
# unchanged by content digest, rolled up per (source, status)
# --------------------------------------------------------------------------

_CORPUS_DIFF_ORACLE = """
    WITH v1 AS (
        SELECT doc_id, source, n_chars, md5(text) AS h
        FROM documents WHERE doc_id % 10 <> 1
    ), v2 AS (
        SELECT doc_id, source,
               CASE WHEN doc_id % 7 = 0
                    THEN n_chars + 7 ELSE n_chars END AS n_chars,
               CASE WHEN doc_id % 7 = 0
                    THEN md5(text || ' [rev2]') ELSE md5(text) END AS h
        FROM documents WHERE doc_id % 10 <> 0
    ), j AS (
        SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id,
               COALESCE(v1.source, v2.source) AS source,
               CASE WHEN v1.doc_id IS NULL THEN 'added'
                    WHEN v2.doc_id IS NULL THEN 'deleted'
                    WHEN v1.h <> v2.h THEN 'modified'
                    ELSE 'unchanged' END AS status,
               COALESCE(v1.n_chars, 0) AS c1,
               COALESCE(v2.n_chars, 0) AS c2
        FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
    )
    SELECT source, status,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(c1) AS BIGINT) AS chars_v1,
           CAST(SUM(c2) AS BIGINT) AS chars_v2,
           CAST(SUM(c2) - SUM(c1) AS BIGINT) AS delta_chars
    FROM j GROUP BY source, status
"""


@declared("q_corpus_diff", oracle=_CORPUS_DIFF_ORACLE)
def q_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATASET VERSION DIFF — the release audit every corpus refresh runs:
    classify each doc_id across two versions as added / deleted /
    modified / unchanged and roll up doc and char deltas per (source,
    status). Versions are carved deterministically from the one shipped
    table (v1 drops doc_id%10==1 — those are v2's ADDS; v2 drops %10==0 —
    DELETES; v2 rewrites %7==0 — MODIFIED via digest mismatch), so the op
    under test is the diff algebra: digest-compare, FULL OUTER join,
    status classification, signed char accounting.

    Engine-exactness: md5 digests computed identically; COALESCE sides;
    integer sums CAST to BIGINT.

    Scale notes (100 TB): digests are computed map-side so the FULL OUTER
    join carries (doc_id, source, n_chars, 32-hex) — never text (the
    census-narrow rule); the join co-partitions both versions on doc_id
    (on an id-bucketed layout it is shuffle-free); the rollup is a
    map-side-combined aggregate over |sources| x 4 groups. This is the
    batch twin of the CDC/SCD2 family (scalepatterns.py) for the case
    where only two snapshots exist — no change log."""
    t = load_tables(spark, sf_dir)
    v1 = t.documents.filter(F.col("doc_id") % 10 != 1).select(
        "doc_id", "source", "n_chars", F.md5("text").alias("h")
    )
    v2 = t.documents.filter(F.col("doc_id") % 10 != 0).select(
        F.col("doc_id").alias("doc_id2"),
        F.col("source").alias("source2"),
        F.when(F.col("doc_id") % 7 == 0, F.col("n_chars") + 7)
        .otherwise(F.col("n_chars"))
        .alias("n_chars2"),
        F.when(
            F.col("doc_id") % 7 == 0, F.md5(F.concat("text", F.lit(" [rev2]")))
        )
        .otherwise(F.md5("text"))
        .alias("h2"),
    )
    j = v1.join(v2, v1.doc_id == v2.doc_id2, "full_outer").select(
        F.coalesce("source", "source2").alias("source"),
        F.when(F.col("doc_id").isNull(), "added")
        .when(F.col("doc_id2").isNull(), "deleted")
        .when(F.col("h") != F.col("h2"), "modified")
        .otherwise("unchanged")
        .alias("status"),
        F.coalesce("n_chars", F.lit(0)).alias("c1"),
        F.coalesce("n_chars2", F.lit(0)).alias("c2"),
    )
    return j.groupBy("source", "status").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("c1").cast("bigint").alias("chars_v1"),
        F.sum("c2").cast("bigint").alias("chars_v2"),
        (F.sum("c2") - F.sum("c1")).cast("bigint").alias("delta_chars"),
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
                     ({hex_to_int_sql("fh", 8)}) % {FOLD_N} AS f
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
