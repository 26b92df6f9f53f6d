"""Corpus-cleaning operators (Tier-D extension, round 4 cont.): sub-document
deduplication and distribution-matching importance weights — the two
cleaning stages that act BELOW document granularity.

- q_line_dedup: cross-document block-level exact dedup (the CCNet /
  RefinedWeb "line dedup" shape — boilerplate lines repeat across pages far
  more often than whole pages duplicate). Documents here are single-space
  word streams, so the "line" unit is a fixed 8-word non-overlapping block.
- q_dsir: hashed-n-gram importance weights (the DSIR shape: score every
  document by how much more likely its n-gram buckets are under a target
  domain's distribution than under the background corpus), made
  engine-exact with rational fixed-point ratios instead of float log-sums.

Both are JVM-built-ins only — zero Python UDFs — with full DuckDB oracles.

Scale notes (100 TB):
- line dedup shuffles md5 digests of blocks (32-byte keys), never block
  text; the canonical-instance window partitions by digest, so hot
  boilerplate blocks concentrate — bounded by the same bucket-cap escape
  hatch the LSH dedup documents (a block seen >K times is boilerplate by
  definition; cap the window input per digest and mark the overflow
  duplicated without ranking it).
- DSIR's bucket table is fixed-width (256 rows regardless of corpus size)
  — broadcast by construction; the corpus shuffles exactly once, for the
  per-document aggregate. This is the whole point of HASHED n-gram
  features: the model side stays O(buckets), not O(vocabulary).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans.registry import declared
from ..sources.catalog import load_tables

# --------------------------------------------------------------------------
# Cross-document block-level exact dedup (line-dedup shape)
# --------------------------------------------------------------------------

BLOCK_WORDS = 8  # non-overlapping block width, in words
LINE_DEDUP_KEEP_MAX_DUP_FRAC = 0.5  # doc survives if <= half its blocks are dups


def _blocks_expr() -> F.Column:
    """Non-overlapping BLOCK_WORDS-word blocks of the pre-split ``ws``
    array, as space-joined strings. Trailing partial blocks are dropped
    (pinned semantics; both engines iterate p in [0, len/B)). Guarded like
    shingles_expr: < BLOCK_WORDS words => empty array (sequence() would
    descend on a negative upper bound)."""
    n = F.expr(f"size(ws) div {BLOCK_WORDS}")
    blocks = F.transform(
        F.sequence(F.lit(0), n - 1),
        lambda p: F.array_join(F.slice(F.col("ws"), p * BLOCK_WORDS + 1, BLOCK_WORDS), " "),
    )
    return F.when(F.size(F.col("ws")) >= BLOCK_WORDS, blocks).otherwise(
        F.array().cast("array<string>")
    )


_LINE_DEDUP_ORACLE = f"""
    WITH d AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), b AS (
        SELECT doc_id, CAST(p AS BIGINT) AS p,
               md5(array_to_string(ws[p*{BLOCK_WORDS}+1 : p*{BLOCK_WORDS}+{BLOCK_WORDS}], ' ')) AS bh
        FROM d CROSS JOIN UNNEST(range(len(ws) // {BLOCK_WORDS})) AS t(p)
    ), r AS (
        SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY bh ORDER BY doc_id, p) AS rn
        FROM b
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_blocks,
           CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
           SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) * 1.0 / COUNT(*) AS dup_frac,
           SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) * 1.0 / COUNT(*)
               <= {LINE_DEDUP_KEEP_MAX_DUP_FRAC} AS keep
    FROM r GROUP BY doc_id
"""


@declared("q_line_dedup", oracle=_LINE_DEDUP_ORACLE)
def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document block-level exact dedup: split every document into
    8-word non-overlapping blocks, find blocks that occur more than once
    ANYWHERE in the corpus, and charge each non-canonical occurrence to its
    document. The canonical instance is the globally first one in
    (doc_id, position) order — so a document's dup fraction counts exactly
    the blocks it repeats from earlier documents (or earlier in itself),
    the accounting a line-dedup scrubber uses to decide whether a page is
    mostly boilerplate. `keep` applies the 50% rule.

    Engine-exactness: blocks are compared via md5 (identical hex both
    engines); dup_frac is int*1.0/int — one exact int→double conversion and
    one correctly-rounded division on identical operands.

    Scale: the digest window shuffles (doc_id, p, 32-byte bh) — never block
    text; the per-doc aggregate shuffles doc-level partials. Hot-digest skew
    escape hatch in the module docstring."""
    t = load_tables(spark, sf_dir)
    return line_dedup_stats(t.documents)


def line_dedup_stats(documents: DataFrame) -> DataFrame:
    """q_line_dedup's body on an arbitrary documents frame (doc_id, text)."""
    b = (
        documents.select("doc_id", F.split("text", " ").alias("ws"))
        .select("doc_id", F.posexplode(_blocks_expr()).alias("p", "blk"))
        .select("doc_id", "p", F.md5("blk").alias("bh"))
    )
    w = Window.partitionBy("bh").orderBy("doc_id", "p")
    r = b.withColumn("rn", F.row_number().over(w))
    dup = F.sum(F.when(F.col("rn") > 1, 1).otherwise(0))
    dup_frac = dup * F.lit(1.0) / F.count("*")
    return r.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_blocks"),
        dup.cast("bigint").alias("n_dup"),
        dup_frac.alias("dup_frac"),
        (dup_frac <= LINE_DEDUP_KEEP_MAX_DUP_FRAC).alias("keep"),
    )


# --------------------------------------------------------------------------
# Hashed-n-gram importance weights (DSIR shape, rational fixed-point)
# --------------------------------------------------------------------------

DSIR_TARGET_SOURCE = "src0"  # the small "high-quality target domain"
DSIR_SCALE = 1_000_000  # fixed-point scale for the likelihood ratio
# 2-hex-char md5 prefix => 256 hash buckets. The bucket id is the hex
# STRING itself — no hex->int conversion exists portably across engines,
# and none is needed: the bucket key only has to be a deterministic
# 256-valued function of the n-gram.

_DSIR_ORACLE = f"""
    WITH d AS (
        SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents
    ), inst AS (
        SELECT doc_id, source,
               substr(md5('dsir|' || bg), 1, 2) AS bucket
        FROM (
            SELECT doc_id, source,
                   unnest([ws[i] || ' ' || ws[i+1] FOR i IN range(1, len(ws))]) AS bg
            FROM d
        )
    ), bg_tab AS (
        SELECT bucket,
               CAST(COUNT(*) AS BIGINT) AS bg_cnt,
               CAST(SUM(CASE WHEN source = '{DSIR_TARGET_SOURCE}' THEN 1 ELSE 0 END)
                    AS BIGINT) AS t_cnt
        FROM inst GROUP BY bucket
    ), tot AS (
        SELECT CAST(SUM(bg_cnt) AS BIGINT) AS tot_bg,
               CAST(SUM(t_cnt) AS BIGINT) AS tot_t
        FROM bg_tab
    ), ratio AS (
        SELECT b.bucket,
               COALESCE(t_cnt * t.tot_bg * {DSIR_SCALE} // NULLIF(bg_cnt * t.tot_t, 0), 0)
                   AS ratio_fx
        FROM bg_tab b CROSS JOIN tot t
    )
    SELECT i.doc_id, i.source,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(r.ratio_fx) AS BIGINT) AS score_fx,
           CAST(SUM(r.ratio_fx) // COUNT(*) AS BIGINT) AS avg_ratio_fx
    FROM inst i JOIN ratio r ON i.bucket = r.bucket
    GROUP BY i.doc_id, i.source
"""


@declared("q_dsir", oracle=_DSIR_ORACLE)
def q_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed-bigram importance weights, DSIR shape: model the target
    domain (source 'src0') and the background corpus as distributions over
    256 hashed bigram buckets, then weight every document by its bigrams'
    mean normalized likelihood ratio p_target(b)/p_background(b). High
    scores = documents that look like the target domain — the resampling
    weight importance sampling uses to tilt a 100 TB crawl toward a small
    quality domain.

    Engine-exactness: DSIR's real score is a log-likelihood sum, and ln()
    is not bit-identical across engines (the q_tfidf lesson), so the ratio
    is kept RATIONAL: per-bucket ratio_fx = t_cnt·tot_bg·SCALE div
    (bg_cnt·tot_t) is pure BIGINT arithmetic (bounded: t_cnt·tot_bg·SCALE
    < 2^63 up to ~10^5-doc test scales; the 100 TB form widens to
    DECIMAL(38,0) or re-scales per-shard), and the document score is an
    order-independent integer sum of those.

    Scale: the bucket table is 256 rows by construction — broadcast; the
    instance stream is a narrow projection (doc_id, source, 2-char bucket)
    and shuffles once, for the per-document aggregate (map-side combine on
    (doc_id, bucket-repeats))."""
    t = load_tables(spark, sf_dir)
    return dsir_scores(t.documents)


def dsir_scores(documents: DataFrame) -> DataFrame:
    """q_dsir's body on an arbitrary documents frame (doc_id, source, text)."""
    ws = F.col("ws")
    m = F.size(ws) - 1
    bigrams = F.when(
        F.size(ws) >= 2,
        F.zip_with(F.slice(ws, 1, m), F.slice(ws, 2, m), lambda x, y: F.concat_ws(" ", x, y)),
    ).otherwise(F.array().cast("array<string>"))
    inst = (
        documents.select("doc_id", "source", F.split("text", " ").alias("ws"))
        .select("doc_id", "source", F.explode(bigrams).alias("bg"))
        .select(
            "doc_id",
            "source",
            F.substring(F.md5(F.concat(F.lit("dsir|"), F.col("bg"))), 1, 2).alias("bucket"),
        )
    )
    bg_tab = inst.groupBy("bucket").agg(
        F.count("*").cast("bigint").alias("bg_cnt"),
        F.sum(F.when(F.col("source") == DSIR_TARGET_SOURCE, 1).otherwise(0))
        .cast("bigint")
        .alias("t_cnt"),
    )
    tot = bg_tab.agg(
        F.sum("bg_cnt").cast("bigint").alias("tot_bg"),
        F.sum("t_cnt").cast("bigint").alias("tot_t"),
    )
    ratio = bg_tab.crossJoin(F.broadcast(tot)).select(
        "bucket",
        # NULLIF/COALESCE: a corpus slice with NO target-domain bigrams has
        # tot_t = 0 — importance is then 0 by definition (nothing resembles
        # an empty target model), not a divide-by-zero
        F.expr(
            f"COALESCE(t_cnt * tot_bg * {DSIR_SCALE} div NULLIF(bg_cnt * tot_t, 0), 0)"
        ).alias("ratio_fx"),
    )
    return (
        inst.join(F.broadcast(ratio), "bucket")
        .groupBy("doc_id", "source")
        .agg(
            F.count("*").cast("bigint").alias("n_bigrams"),
            F.sum("ratio_fx").cast("bigint").alias("score_fx"),
            F.expr("CAST(sum(ratio_fx) div count(*) AS BIGINT)").alias("avg_ratio_fx"),
        )
    )


# --------------------------------------------------------------------------
# Dedup yield audit: token mass saved by exact dedup, per source
# --------------------------------------------------------------------------

_DEDUP_YIELD_ORACLE = """
    WITH d AS (
        SELECT source, md5(text) AS h,
               CAST(LEN(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               doc_id
        FROM documents
    ), canon AS (
        SELECT source, h, n_tokens,
               CASE WHEN doc_id = MIN(doc_id) OVER (PARTITION BY source, h)
                    THEN 1 ELSE 0 END AS is_canonical
        FROM d
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(is_canonical) AS BIGINT) AS n_unique,
           CAST(SUM(n_tokens) AS BIGINT) AS tokens_total,
           CAST(SUM(is_canonical * n_tokens) AS BIGINT) AS tokens_unique,
           (SUM(n_tokens) - SUM(is_canonical * n_tokens)) * 1e0
               / SUM(n_tokens) AS tokens_saved_ratio
    FROM canon GROUP BY source
"""


@declared("q_dedup_yield", oracle=_DEDUP_YIELD_ORACLE)
def q_dedup_yield(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dedup YIELD audit per source: how many documents and — the
    number that matters for a token budget — how much TOKEN MASS survives
    keep-first-by-id exact dedup within each source. Run before committing
    a dedup sweep: a source whose saved-token ratio is near zero doesn't
    pay for its pass; one where it's large is re-crawled boilerplate and
    its mixing weight (q_token_budget) was computed on inflated supply.

    Engine-exactness: canonical = min doc_id per (source, md5(text)) —
    pure integers and digests; one 1e0 division.

    Scale notes (100 TB): the corpus shuffles as (source, 32-byte digest,
    n_tokens, doc_id) — never text; the canonical flag is a window
    partitioned by (source, digest) (bounded by the largest duplicate
    cluster, the same cap-relevant shape q_line_dedup documents); the
    audit collapses to one row per source."""
    t = load_tables(spark, sf_dir)
    from pyspark.sql.window import Window

    d = t.documents.select(
        "source",
        F.md5("text").alias("h"),
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
        "doc_id",
    )
    w = Window.partitionBy("source", "h")
    canon = d.withColumn(
        "is_canonical",
        F.when(F.col("doc_id") == F.min("doc_id").over(w), 1).otherwise(0),
    )
    return canon.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("is_canonical").cast("bigint").alias("n_unique"),
        F.sum("n_tokens").cast("bigint").alias("tokens_total"),
        F.sum(F.expr("is_canonical * n_tokens")).cast("bigint").alias("tokens_unique"),
        F.expr(
            "(SUM(n_tokens) - SUM(is_canonical * n_tokens)) * 1e0 / SUM(n_tokens)"
        ).alias("tokens_saved_ratio"),
    )


# --------------------------------------------------------------------------
# Normalization audit + canonical-form dedup gain
# --------------------------------------------------------------------------

# lower → strip non-[a-z0-9 ] → collapse space runs → trim. DuckDB needs the
# 'g' flag for global regexp_replace; Spark replaces all matches by default —
# same transform, dialect-specific spelling.
_NORM_SPARK = (
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ''),"
    " ' +', ' '))"
)
_NORM_DUCK = (
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),"
    " ' +', ' ', 'g'))"
)

_NORMALIZE_ORACLE = f"""
    WITH n AS (
        SELECT source, text, {_NORM_DUCK} AS norm,
               LENGTH(text) AS n_chars_raw,
               OCTET_LENGTH(CAST(text AS BLOB)) AS n_bytes_raw
        FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN norm <> text THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
           CAST(SUM(CASE WHEN n_bytes_raw <> n_chars_raw THEN 1 ELSE 0 END)
                AS BIGINT) AS n_nonascii,
           CAST(SUM(n_chars_raw) AS BIGINT) AS chars_raw,
           CAST(SUM(LENGTH(norm)) AS BIGINT) AS chars_norm,
           SUM(LENGTH(norm)) * 1e0 / SUM(n_chars_raw) AS keep_ratio
    FROM n GROUP BY source
"""


@declared("q_normalize_audit", oracle=_NORMALIZE_ORACLE)
def q_normalize_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-normalization audit per source: how many documents a canonical
    lower/strip-punctuation/collapse-whitespace transform would change, how
    many contain non-ASCII bytes (octet length ≠ char length — the mojibake
    / encoding-drift detector), and the character mass the transform keeps.
    This is the dry-run a cleaning pipeline records before rewriting 100 TB
    — the per-source numbers say which ingest feeds need the pass at all.

    Engine-exactness: identical regex classes on both engines (DuckDB
    spelled with the 'g' flag, Spark global by default); counts BIGINT, one
    1e0 division.

    Scale notes (100 TB): pure narrow projection (codegen'd regex) into a
    per-source combiner aggregate — zero shuffles before the sources-sized
    result."""
    t = load_tables(spark, sf_dir)
    n = t.documents.select(
        "source",
        "text",
        F.expr(_NORM_SPARK).alias("norm"),
        F.length("text").alias("n_chars_raw"),
        F.octet_length("text").alias("n_bytes_raw"),
    )
    return n.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("norm") != F.col("text"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_changed"),
        F.sum(F.when(F.col("n_bytes_raw") != F.col("n_chars_raw"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_nonascii"),
        F.sum("n_chars_raw").cast("bigint").alias("chars_raw"),
        F.sum(F.length("norm")).cast("bigint").alias("chars_norm"),
        F.expr("SUM(LENGTH(norm)) * 1e0 / SUM(n_chars_raw)").alias("keep_ratio"),
    )


_CANON_GAIN_ORACLE = f"""
    WITH n AS (
        SELECT source, md5(text) AS h_raw, md5({_NORM_DUCK}) AS h_canon
        FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT h_raw) AS BIGINT) AS uniq_raw,
           CAST(COUNT(DISTINCT h_canon) AS BIGINT) AS uniq_canon,
           CAST(COUNT(DISTINCT h_raw) - COUNT(DISTINCT h_canon) AS BIGINT)
               AS extra_dups_found,
           (COUNT(DISTINCT h_raw) - COUNT(DISTINCT h_canon)) * 1e0
               / COUNT(DISTINCT h_raw) AS gain_ratio
    FROM n GROUP BY source
"""


@declared("q_canon_dedup_gain", oracle=_CANON_GAIN_ORACLE)
def q_canon_dedup_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-form dedup GAIN: per source, how many additional duplicate
    documents exact dedup finds when it keys on the NORMALIZED text instead
    of the raw bytes — the measurement that justifies (or kills) adding the
    normalization pass before dedup: near-zero gain means raw-hash dedup
    already suffices; large gain means the source re-serializes the same
    content with cosmetic differences (tracker params, whitespace,
    capitalization).

    Engine-exactness: two md5 digests per doc, distinct counts, one 1e0
    division.

    Scale notes (100 TB): the corpus shuffles as (source, digest, digest) —
    never text; two count-distincts share one aggregation."""
    t = load_tables(spark, sf_dir)
    n = t.documents.select(
        "source",
        F.md5("text").alias("h_raw"),
        F.md5(F.expr(_NORM_SPARK)).alias("h_canon"),
    )
    return n.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.countDistinct("h_raw").cast("bigint").alias("uniq_raw"),
        F.countDistinct("h_canon").cast("bigint").alias("uniq_canon"),
        (F.countDistinct("h_raw") - F.countDistinct("h_canon"))
        .cast("bigint")
        .alias("extra_dups_found"),
        (
            (F.countDistinct("h_raw") - F.countDistinct("h_canon"))
            * F.lit(1.0)
            / F.countDistinct("h_raw")
        ).alias("gain_ratio"),
    )
