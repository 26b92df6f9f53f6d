"""Retrieval operators for RAG-style pipelines (beyond-reference surface,
SURVEY.md §2.D family): positional phrase search, hybrid rank fusion, and
content-defined chunking. No reference implementation exists — designs are
Spark-idiomatic and sized for 100 TB.

Scale notes:
- phrase search pushes the term filter INTO the posting explode (only query
  terms survive the map side — the q_bm25 inverted-index-probe shape) and
  joins adjacency on (doc_id, pos): one posting-sized shuffle.
- rank fusion ranks ONLY inside TakeOrdered top-K lists (per-partition
  heaps; no global window over corpus-sized inputs — the q_skew_audit
  pattern), then fuses two K-row lists with a broadcast-sized join.
- content-defined chunking windows per document (partitioned by doc_id) —
  bounded by document length, embarrassingly parallel across docs.

ANN indexes and retrieval evaluation also live here: the 1-bit binary index
and its shortlist sweep, IVF maintenance under appends, index deltas, random
projection, posting-list compression, hard-negative mining, MaxSim late
interaction (top-k, shortlist re-rank, sweep), top-k bounds, the
quantization sweep, and MRR / nDCG rank evaluation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..plans.registry import declared
from ..sources.catalog import load_tables
from ..sources.writers import scratch_dir
from .similarity import FX_SCALE, U_CTE, unit_fx_expr
from .textprep import DUCK_H60, SPARK_H60

# ---------------------------------------------------------------------------
# Positional phrase search (inverted-index adjacency probe)
# ---------------------------------------------------------------------------

PHRASE = ("table", "scan")  # the exact 2-word phrase to match
PHRASE_TOP = 20

_PHRASE_ORACLE = f"""
    WITH d AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), post AS (
        SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) AS pos
        FROM d
    ), a AS (
        SELECT doc_id, pos FROM post WHERE w = '{PHRASE[0]}'
    ), b AS (
        SELECT doc_id, pos FROM post WHERE w = '{PHRASE[1]}'
    )
    SELECT a.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_matches,
           CAST(MIN(a.pos) AS BIGINT) AS first_pos
    FROM a JOIN b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    GROUP BY a.doc_id
    ORDER BY n_matches DESC, a.doc_id
    LIMIT {PHRASE_TOP}
"""


@declared("q_phrase_search", oracle=_PHRASE_ORACLE)
def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-phrase retrieval ("{w1} {w2}" adjacency) via a POSITIONAL
    inverted-index probe: explode words with positions, keep only the two
    query terms (filter pushed into the posting extraction — the map side
    emits query-term postings, never the corpus), join on (doc_id,
    pos+1-adjacency), rank docs by match count. Top-k is TakeOrdered.

    Engine-exactness: pure integers; Spark posexplode is 0-based so +1
    aligns positions with DuckDB generate_subscripts.

    Scale (100 TB): posting extraction is a narrow map; the adjacency join
    shuffles only query-term postings (corpus-frequency-of-terms rows, not
    corpus rows); a production system would pre-materialize the positional
    index partitioned by term."""
    t = load_tables(spark, sf_dir)
    post = (
        t.documents.select(
            "doc_id", F.posexplode(F.split("text", " ")).alias("p0", "w")
        )
        .filter(F.col("w").isin(*PHRASE))
        .select("doc_id", (F.col("p0") + 1).alias("pos"), "w")
    )
    a = post.filter(F.col("w") == PHRASE[0]).select("doc_id", F.col("pos").alias("pa"))
    b = post.filter(F.col("w") == PHRASE[1]).select("doc_id", F.col("pos").alias("pb"))
    return (
        a.join(b, (a.doc_id == b.doc_id) & (b.pb == a.pa + 1))
        .select(a.doc_id.alias("doc_id"), "pa")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_matches"),
            F.min("pa").cast("bigint").alias("first_pos"),
        )
        .orderBy(F.col("n_matches").desc(), "doc_id")
        .limit(PHRASE_TOP)
    )


# ---------------------------------------------------------------------------
# Hybrid retrieval: BM25 ⊕ embedding-cosine reciprocal-rank fusion
# ---------------------------------------------------------------------------

RRF_K = 60  # the standard reciprocal-rank-fusion damping constant
RRF_LIST = 50  # per-retriever candidate list length
RRF_TOP = 20
RRF_QUERY_VEC = 0  # vec_id of the query embedding


def _bm25_score_sql() -> str:
    """The q_bm25 scored-docs CTE chain (same integer-exact construction —
    textstats.q_bm25 is the single-retriever sibling)."""
    from .textstats import BM25_QUERY, BM25_SCALE

    terms = ", ".join(f"'{t}'" for t in BM25_QUERY)
    return f"""
    bd AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), bcorpus AS (
        SELECT CAST(SUM(len(ws)) AS BIGINT) AS t_words,
               CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM bd
    ), btf AS (
        SELECT doc_id, w AS term,
               CAST(COUNT(*) AS BIGINT) AS tf,
               CAST(MIN(dl) AS BIGINT) AS dl
        FROM (SELECT doc_id, len(ws) AS dl, unnest(ws) AS w FROM bd)
        WHERE w IN ({terms})
        GROUP BY doc_id, w
    ), bdf AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM btf GROUP BY term
    ), bscored AS (
        SELECT btf.doc_id,
               CAST((2 * {BM25_SCALE} * (2 * c.n_docs - 2 * bdf.df + 1)
                       + (2 * bdf.df + 1)) // (2 * (2 * bdf.df + 1))
                    AS BIGINT)
                   * (22 * c.t_words * btf.tf)
                   // (10 * c.t_words * btf.tf + 3 * c.t_words
                       + 9 * btf.dl * c.n_docs)
                   AS term_score_fx
        FROM btf JOIN bdf ON btf.term = bdf.term CROSS JOIN bcorpus c
    ), bm25 AS (
        SELECT doc_id, CAST(SUM(term_score_fx) AS BIGINT) AS score_fx
        FROM bscored GROUP BY doc_id
    )"""


_RRF_ORACLE = f"""
    WITH {_bm25_score_sql().lstrip()},
    bm_rank AS (
        SELECT doc_id, rb FROM (
            SELECT doc_id,
                   CAST(ROW_NUMBER() OVER (ORDER BY score_fx DESC, doc_id)
                        AS BIGINT) AS rb
            FROM bm25
        ) WHERE rb <= {RRF_LIST}
    ), ex AS (
        SELECT vec_id, unnest(embedding) AS x,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings
    ), fx AS (
        SELECT vec_id, i, CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT) AS xi
        FROM ex
    ), nrm AS (
        SELECT vec_id, SQRT(CAST(SUM(xi * xi) AS DOUBLE)) AS n FROM fx GROUP BY vec_id
    ), qv AS (
        SELECT i, xi FROM fx WHERE vec_id = {RRF_QUERY_VEC}
    ), dots AS (
        SELECT f.vec_id, CAST(SUM(f.xi * q.xi) AS BIGINT) AS dot_fx
        FROM fx f JOIN qv q ON f.i = q.i
        WHERE f.vec_id <> {RRF_QUERY_VEC}
        GROUP BY f.vec_id
    ), cos AS (
        SELECT d.vec_id,
               CAST(d.dot_fx AS DOUBLE) / (na.n * nq.n) AS cosine
        FROM dots d
        JOIN nrm na ON na.vec_id = d.vec_id
        JOIN nrm nq ON nq.vec_id = {RRF_QUERY_VEC}
    ), cos_rank AS (
        SELECT vec_id, rc FROM (
            SELECT vec_id,
                   CAST(ROW_NUMBER() OVER (ORDER BY cosine DESC, vec_id)
                        AS BIGINT) AS rc
            FROM cos
        ) WHERE rc <= {RRF_LIST}
    ), fused AS (
        SELECT COALESCE(b.doc_id, c.vec_id) AS doc_id, b.rb, c.rc,
               COALESCE(1e0 / ({RRF_K} + b.rb), 0e0)
                 + COALESCE(1e0 / ({RRF_K} + c.rc), 0e0) AS rrf
        FROM bm_rank b FULL OUTER JOIN cos_rank c ON b.doc_id = c.vec_id
    )
    SELECT doc_id, rb, rc, rrf FROM fused
    ORDER BY rrf DESC, doc_id
    LIMIT {RRF_TOP}
"""


@declared("q_rrf_fusion", oracle=_RRF_ORACLE)
def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval readout: BM25 keyword ranks fused with embedding-
    cosine ranks by reciprocal-rank fusion (rrf = Σ 1/(60+rank)) — the
    standard zero-tuning hybrid-search combiner. Documents and embeddings
    share an id space (doc_id ≡ vec_id), as a real corpus-with-embeddings
    table would.

    Engine-exactness: both rank lists are integer-exact (BM25 is q_bm25's
    fixed-point construction; cosine uses the similarity family's 1e6
    fixed-point dot with sqrt — the one bit-exact transcendental); the rrf
    sum is two IEEE double divisions in fixed order, bit-identical across
    engines.

    Scale (100 TB): each retriever ranks only its TakeOrdered top-{RRF_LIST}
    (per-partition heaps; the rank window runs over {RRF_LIST} rows, never
    the corpus — the q_skew_audit pattern); the fusion join is {RRF_LIST}×2
    rows. The corpus-side work is q_bm25's posting probe and one broadcast-
    query-vector cosine pass."""
    from .similarity import fx_cosine_to_query
    from .textstats import bm25_scores

    t = load_tables(spark, sf_dir)

    # --- BM25 arm: THE q_bm25 scoring chain (single shared definition) ---
    bm25 = bm25_scores(t.documents).select("doc_id", "score_fx")
    bm_top = bm25.orderBy(F.col("score_fx").desc(), "doc_id").limit(RRF_LIST)
    wb = Window.orderBy(F.col("score_fx").desc(), "doc_id")  # over RRF_LIST rows
    bm_rank = bm_top.select(
        "doc_id", F.row_number().over(wb).cast("bigint").alias("rb")
    )

    # --- cosine arm: the similarity family's shared fixed-point scorer ---
    cos = fx_cosine_to_query(t.embeddings, RRF_QUERY_VEC)
    cos_top = cos.orderBy(F.col("cosine").desc(), "vec_id").limit(RRF_LIST)
    wc = Window.orderBy(F.col("cosine").desc(), "vec_id")  # over RRF_LIST rows
    cos_rank = cos_top.select(
        F.col("vec_id"), F.row_number().over(wc).cast("bigint").alias("rc")
    )

    # --- fuse (two K-row lists) ---
    fused = bm_rank.join(
        cos_rank, bm_rank.doc_id == cos_rank.vec_id, "full_outer"
    ).select(
        F.coalesce(bm_rank.doc_id, cos_rank.vec_id).alias("doc_id"),
        "rb",
        "rc",
        (
            F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("rb")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("rc")), F.lit(0.0))
        ).alias("rrf"),
    )
    return fused.orderBy(F.col("rrf").desc(), "doc_id").limit(RRF_TOP)


# ---------------------------------------------------------------------------
# Content-defined chunking (rolling-boundary splitter for dedup-stable RAG)
# ---------------------------------------------------------------------------

CDC_HEX = "0"  # boundary iff md5(word) starts with this nibble → ~1/16 words


_CDC_ORACLE = f"""
    WITH d AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), post AS (
        SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) AS pos
        FROM d
    ), marked AS (
        SELECT doc_id, pos,
               CASE WHEN substr(md5(w), 1, 1) = '{CDC_HEX}' THEN 1 ELSE 0 END AS b
        FROM post
    ), chunked AS (
        SELECT doc_id, pos,
               CAST(COALESCE(SUM(b) OVER (PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS chunk_id
        FROM marked
    ), sizes AS (
        SELECT doc_id, chunk_id, CAST(COUNT(*) AS BIGINT) AS n_words
        FROM chunked GROUP BY doc_id, chunk_id
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(n_words) AS BIGINT) AS n_words,
           CAST(MAX(n_words) AS BIGINT) AS max_chunk,
           SUM(n_words) * 1e0 / COUNT(*) AS avg_chunk
    FROM sizes GROUP BY doc_id
"""


@declared("q_cdc_chunk", oracle=_CDC_ORACLE)
def q_cdc_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking audit: chunk boundaries fall AFTER words
    whose md5 starts with '{CDC_HEX}' (expected chunk ≈ 16 words) — the
    rolling-hash splitter whose boundaries are STABLE under edits (insert a
    paragraph and only the chunks touching it change), unlike q_chunk's
    fixed windows where one insertion shifts every downstream chunk. That
    stability is what makes chunk-level dedup and incremental RAG
    re-indexing work.

    Engine-exactness: md5-nibble boundary test (the house hash-threshold
    idiom), integer prefix-sum chunk ids, one 1e0 division for avg.

    Scale (100 TB): the only window is PARTITIONED by doc_id (bounded by
    document length); everything else is combiner aggregates. Narrow map →
    per-doc window → two groupBys, no corpus-wide window anywhere."""
    t = load_tables(spark, sf_dir)
    post = t.documents.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("p0", "w")
    ).select(
        "doc_id",
        (F.col("p0") + 1).alias("pos"),
        F.when(F.substring(F.md5("w"), 1, 1) == CDC_HEX, 1).otherwise(0).alias("b"),
    )
    wdoc = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, -1
    )
    chunked = post.select(
        "doc_id",
        F.coalesce(F.sum("b").over(wdoc), F.lit(0)).cast("bigint").alias("chunk_id"),
    )
    sizes = chunked.groupBy("doc_id", "chunk_id").agg(
        F.count("*").cast("bigint").alias("n_words")
    )
    return sizes.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_chunks"),
        F.sum("n_words").cast("bigint").alias("n_words"),
        F.max("n_words").cast("bigint").alias("max_chunk"),
        F.expr("SUM(n_words) * 1e0 / COUNT(*)").alias("avg_chunk"),
    )


# --------------------------------------------------------------------------
# Hard-negative mining (contrastive-training data prep)
# --------------------------------------------------------------------------

HN_N_ANCHORS = 8


def _hard_neg_oracle() -> str:

    return f"""
    WITH ex AS (
        SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings
    ), exq AS (
        SELECT vec_id, i, CAST(ROUND(x * {FX_SCALE}) AS BIGINT) AS xi FROM ex
    ), nrm AS (
        SELECT vec_id, SQRT(CAST(SUM(xi * xi) AS DOUBLE)) AS n
        FROM exq GROUP BY vec_id
    ), lng AS (
        SELECT doc_id AS vec_id, lang FROM documents
    ), anchors AS (
        SELECT vec_id FROM embeddings WHERE vec_id < {HN_N_ANCHORS}
    ), dots AS (
        SELECT a.vec_id AS anchor_id, c.vec_id AS cand_id,
               CAST(SUM(ea.xi * ec.xi) AS BIGINT) AS dot
        FROM anchors a
        JOIN exq ea ON ea.vec_id = a.vec_id
        JOIN exq ec ON ec.i = ea.i
        JOIN embeddings c ON c.vec_id = ec.vec_id AND c.vec_id <> a.vec_id
        GROUP BY 1, 2
    ), scored AS (
        SELECT d.anchor_id, d.cand_id,
               CAST(ROUND(CAST(d.dot AS DOUBLE) / (na.n * nc.n) * {FX_SCALE})
                    AS BIGINT) AS cos_fx,
               CASE WHEN la.lang = lc.lang THEN 1 ELSE 0 END AS same_lang
        FROM dots d
        JOIN nrm na ON na.vec_id = d.anchor_id
        JOIN nrm nc ON nc.vec_id = d.cand_id
        JOIN lng la ON la.vec_id = d.anchor_id
        JOIN lng lc ON lc.vec_id = d.cand_id
    ), best AS (
        SELECT anchor_id, same_lang, cand_id, cos_fx,
               ROW_NUMBER() OVER (PARTITION BY anchor_id, same_lang
                                  ORDER BY cos_fx DESC, cand_id) AS rn
        FROM scored
    )
    SELECT p.anchor_id,
           p.cand_id AS pos_id, p.cos_fx AS pos_fx,
           n.cand_id AS neg_id, n.cos_fx AS neg_fx,
           p.cos_fx - n.cos_fx AS margin_fx
    FROM best p JOIN best n
      ON p.anchor_id = n.anchor_id AND p.rn = 1 AND n.rn = 1
     AND p.same_lang = 1 AND n.same_lang = 0
"""


@declared("q_hard_negatives", oracle=_hard_neg_oracle())
def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive embedding training: for each of
    {HN_N_ANCHORS} anchor vectors, the most-similar SAME-language candidate
    (positive proxy) and the most-similar OTHER-language candidate (the
    hard negative — high cosine, wrong class: exactly the pair a
    contrastive loss learns most from), plus the positive-negative margin.
    Documents and embeddings share an id space (doc_id ≡ vec_id — the
    q_rrf_fusion convention), so language labels come from one dimension
    join.

    Engine-exactness: the similarity family's integer-dot fixed-point
    cosine; per (anchor, class) argmax under the (cos_fx DESC, cand_id)
    total order — Spark max_by vs the oracle's partitioned ROW_NUMBER,
    identical tiebreak; the margin is an integer difference.

    Scale notes (100 TB): anchors broadcast (a K-row table); candidates
    stream through ONE narrow pass — per task the work is K integer dots
    per vector — and reduce via a map-side-combined max_by keyed on
    (anchor, class): 2·K output rows total, no shuffle of embeddings, no
    candidate materialization. At larger K, route candidates through the
    ANN index first (q_sim_ann's banding) and mine within buckets."""

    t = load_tables(spark, sf_dir)
    lang = t.documents.select(F.col("doc_id").alias("vec_id"), "lang")
    fx = t.embeddings.select(
        "vec_id",
        F.expr(
            f"transform(embedding, v -> CAST(ROUND(CAST(v AS DOUBLE) * {FX_SCALE}, 0) AS BIGINT))"
        ).alias("e"),
    ).join(lang, "vec_id")
    nrm = F.sqrt(
        F.aggregate(
            F.zip_with("e", "e", lambda x, y: x * y),
            F.lit(0).cast("bigint"),
            lambda a, v: a + v,
        ).cast("double")
    )
    anchors = fx.filter(F.col("vec_id") < HN_N_ANCHORS).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("e").alias("ae"),
        nrm.alias("an"),
        F.col("lang").alias("alang"),
    )
    cands = fx.select(
        F.col("vec_id").alias("cand_id"),
        F.col("e").alias("ce"),
        nrm.alias("cn"),
        F.col("lang").alias("clang"),
    )
    dot = F.aggregate(
        F.zip_with("ae", "ce", lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda a, v: a + v,
    )
    cos_fx = F.round(dot.cast("double") / (F.col("an") * F.col("cn")) * FX_SCALE).cast(
        "bigint"
    )
    scored = (
        cands.join(F.broadcast(anchors), F.col("cand_id") != F.col("anchor_id"))
        .select(
            "anchor_id",
            "cand_id",
            cos_fx.alias("cos_fx"),
            (F.col("alang") == F.col("clang")).cast("int").alias("same_lang"),
        )
    )
    best = scored.groupBy("anchor_id", "same_lang").agg(
        F.max_by(
            F.struct(F.col("cand_id"), F.col("cos_fx")),
            F.struct(F.col("cos_fx"), (-F.col("cand_id")).alias("tb")),
        ).alias("b")
    )
    pos = best.filter(F.col("same_lang") == 1).select(
        "anchor_id", F.col("b.cand_id").alias("pos_id"), F.col("b.cos_fx").alias("pos_fx")
    )
    neg = best.filter(F.col("same_lang") == 0).select(
        "anchor_id", F.col("b.cand_id").alias("neg_id"), F.col("b.cos_fx").alias("neg_fx")
    )
    return pos.join(neg, "anchor_id").select(
        "anchor_id", "pos_id", "pos_fx", "neg_id", "neg_fx",
        (F.col("pos_fx") - F.col("neg_fx")).alias("margin_fx"),
    )


# --------------------------------------------------------------------------
# Posting-list delta compression audit (inverted-index maintenance)
# --------------------------------------------------------------------------

PL_TOP = 40

_PL_ORACLE = f"""
    WITH w AS (
        SELECT DISTINCT unnest(string_split(text, ' ')) AS term, doc_id
        FROM documents
    ), g AS (
        SELECT term,
               COALESCE(doc_id - LAG(doc_id) OVER
                            (PARTITION BY term ORDER BY doc_id),
                        doc_id + 1) AS gap
        FROM w
    )
    SELECT term,
           CAST(COUNT(*) AS BIGINT) AS df,
           CAST(COUNT(*) * 64 AS BIGINT) AS raw_bits,
           CAST(SUM(LENGTH(bin(gap))) AS BIGINT) AS delta_bits,
           CAST(SUM((LENGTH(bin(gap)) + 6) // 7) AS BIGINT) AS vbyte_bytes,
           CAST((COUNT(*) * 64 - SUM(LENGTH(bin(gap)))) * 10000
                // (COUNT(*) * 64) AS BIGINT) AS savings_bp
    FROM g GROUP BY term
    ORDER BY df DESC, term LIMIT {PL_TOP}
"""


@declared("q_postings_compression", oracle=_PL_ORACLE)
def q_postings_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index posting-list compression audit: each term's sorted
    distinct doc_id postings are delta-encoded (first gap = doc_id + 1 so
    every gap is a positive integer) and costed two ways — minimal binary
    (sum of gap bit-lengths, the entropy-ish floor) and varint/vbyte
    (ceil(bits/7) bytes, what Lucene-style indexes actually write). Per
    term: document frequency, raw 64-bit cost, both compressed costs, and
    the savings in basis points; top PL_TOP terms by df. This is the
    index-maintenance arithmetic a 100 TB search/dedup layer runs to size
    its postings storage.

    Engine-exactness: gaps are positive BIGINTs, bit-length via
    LENGTH(bin(gap)) (identical on positives); savings_bp is one floor
    division of non-negatives; (df DESC, term) is a total order.

    Scale notes (100 TB): one distinct + one groupBy, both keyed by term
    (the distinct pre-shuffles by (term, doc_id), so the gap/bit transform
    rides the same partitioning); the sorted-array aggregate keeps each
    posting list on one reducer — exactly how the real index shards — and
    per-term state is the list itself, capped in production by df
    (stopword lists are the known mitigation, cf. q_heavy_hitters)."""
    t = load_tables(spark, sf_dir)
    w = (
        t.documents.select(
            F.explode(F.split("text", " ")).alias("term"), "doc_id"
        ).distinct()
    )
    g = w.groupBy("term").agg(
        F.expr("array_sort(collect_list(doc_id))").alias("ps")
    ).select(
        "term",
        F.expr(
            "transform(ps, (d, i) -> CASE WHEN i = 0 THEN d + 1"
            " ELSE d - ps[i - 1] END)"
        ).alias("gaps"),
    )
    return (
        g.select(
            "term",
            F.expr("CAST(size(gaps) AS BIGINT)").alias("df"),
            F.expr("CAST(size(gaps) * 64 AS BIGINT)").alias("raw_bits"),
            F.expr(
                "CAST(aggregate(gaps, 0L, (a, x) -> a + length(bin(x)))"
                " AS BIGINT)"
            ).alias("delta_bits"),
            F.expr(
                "CAST(aggregate(gaps, 0L,"
                " (a, x) -> a + (length(bin(x)) + 6) div 7) AS BIGINT)"
            ).alias("vbyte_bytes"),
        )
        .withColumn(
            "savings_bp",
            F.expr("CAST((raw_bits - delta_bits) * 10000 div raw_bits AS BIGINT)"),
        )
        .orderBy(F.desc("df"), "term")
        .limit(PL_TOP)
    )


# --------------------------------------------------------------------------
# Johnson-Lindenstrauss random projection (sign matrix, k = RP_K)
# --------------------------------------------------------------------------

RP_K = 8  # projected dimensionality
RP_FX = 1_000_000  # element quantization (house FX_SCALE)
RP_RATIO_SCALE = 10_000
# Overflow bound: |q_j| <= ~0.53e6 on unit vectors, orig_sq <= 64e12;
# Cauchy-Schwarz gives p_i^2 <= 64 * orig_sq, so proj_sq <= 8*64*orig_sq
# <= 3.3e16 and ratio numerator <= proj_sq * 1e4 <= 3.3e20 / ... bounded
# in practice by proj_sq ~ k * orig_sq ~ 8e12; the CS worst case 5.1e18
# stays under 2^63 because orig_sq <= 1.01e12 on unit-norm input.

_RP_ORACLE = f"""
    WITH ex AS (
        SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS j,
               CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * {RP_FX})
                    AS BIGINT) AS q
        FROM embeddings
    ), proj AS (
        SELECT ex.vec_id, r.i,
               CAST(SUM(CASE WHEN
                   ({DUCK_H60.format(arg="'rp|' || r.i || '|' || ex.j")}) & 1 = 0
                   THEN ex.q ELSE -ex.q END) AS BIGINT) AS p
        FROM ex, (SELECT unnest(range({RP_K})) AS i) r
        GROUP BY ex.vec_id, r.i
    ), o AS (
        SELECT vec_id, CAST(SUM(q * q) AS BIGINT) AS orig_sq FROM ex
        GROUP BY vec_id
    )
    SELECT o.vec_id, o.orig_sq,
           CAST(SUM(p.p * p.p) AS BIGINT) AS proj_sq,
           CAST(SUM(p.p * p.p) * {RP_RATIO_SCALE}
                // ({RP_K} * o.orig_sq) AS BIGINT) AS ratio_fx
    FROM o JOIN proj p ON p.vec_id = o.vec_id
    GROUP BY o.vec_id, o.orig_sq
    ORDER BY o.vec_id
"""


@declared("q_random_projection", oracle=_RP_ORACLE)
def q_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection with a deterministic ±1
    sign matrix (Achlioptas 2003): R[i][j] = ±1 from bit 0 of
    md5('rp|i|j'), projecting each 64-dim embedding to RP_K dims in pure
    integer arithmetic on RP_FX-quantized elements. Per vector: original
    and projected squared norms and their fixed-point ratio against the
    JL expectation E[||Rx||^2] = k·||x||^2 (ratio_fx concentrates around
    RP_RATIO_SCALE) — the cheap dimensionality reduction a pipeline runs
    before ANN indexing or dedup banding when 64 dims is already too wide
    to shuffle at 100 TB.

    Engine-exactness: the sign matrix is hash-derived (no RNG state);
    products and sums are BIGINT (bounds in the comment above); the one
    floor division is on non-negatives (squared norms); vec_id is a total
    order.

    Scale notes (100 TB): the projection is a map-side explode x RP_K
    followed by a (vec_id, i) partial-aggregable SUM — the R matrix is
    never materialized or broadcast (each cell's sign is recomputed from
    its hash, the stateless-matrix trick), so the operator ships zero
    side data and shuffles only on vec_id."""
    t = load_tables(spark, sf_dir)
    ex = t.embeddings.select(
        "vec_id", F.posexplode("embedding").alias("j", "e")
    ).select(
        "vec_id",
        "j",
        F.expr(f"CAST(ROUND(CAST(e AS DOUBLE) * {RP_FX}, 0) AS BIGINT)").alias("q"),
    )
    proj = (
        ex.select(
            "vec_id", "j", "q",
            F.explode(F.sequence(F.lit(0), F.lit(RP_K - 1))).alias("i"),
        )
        .groupBy("vec_id", "i")
        .agg(
            F.expr(
                "CAST(SUM(CASE WHEN "
                + SPARK_H60.format(arg="concat('rp|', i, '|', j)")
                + " & 1 = 0 THEN q ELSE -q END) AS BIGINT)"
            ).alias("p")
        )
    )
    o = ex.groupBy("vec_id").agg(
        F.sum(F.col("q") * F.col("q")).cast("bigint").alias("orig_sq")
    )
    return (
        proj.groupBy("vec_id")
        .agg(F.sum(F.col("p") * F.col("p")).cast("bigint").alias("proj_sq"))
        .join(o, "vec_id")
        .select(
            "vec_id",
            "orig_sq",
            "proj_sq",
            F.expr(
                f"CAST(proj_sq * {RP_RATIO_SCALE} div ({RP_K} * orig_sq)"
                " AS BIGINT)"
            ).alias("ratio_fx"),
        )
        .orderBy("vec_id")
    )


# --------------------------------------------------------------------------
# q_binary_ann — 1-bit binary quantization + Hamming shortlist + exact
# fixed-point cosine re-rank + in-plan recall audit
# --------------------------------------------------------------------------

BQ_DIM = 64  # testdata embedding width; packing below asserts it in-plan
BQ_WORD_BITS = 32  # bits per packed word (positive-BIGINT-safe in any engine)
BQ_NQ = 4  # query vectors: vec_id 0..3 (present at every SF)
BQ_M = 48  # Hamming shortlist size per query
BQ_K = 8  # re-ranked neighbors returned per query

# sign-bit packing: word = (i-1) // 32, bit = (i-1) % 32 (1-based i).
_SIG_CTE = f"""
    sig AS (
        SELECT vec_id,
               CAST(SUM(CASE WHEN xi >= 0 AND i <= {BQ_WORD_BITS}
                             THEN (1::BIGINT << ((i - 1) % {BQ_WORD_BITS}))
                             ELSE 0 END) AS BIGINT) AS w0,
               CAST(SUM(CASE WHEN xi >= 0 AND i > {BQ_WORD_BITS}
                             THEN (1::BIGINT << ((i - 1) % {BQ_WORD_BITS}))
                             ELSE 0 END) AS BIGINT) AS w1
        FROM u GROUP BY vec_id
    )
"""

_BINARY_ANN_ORACLE = f"""
    WITH {U_CTE}, {_SIG_CTE}, q AS (
        SELECT vec_id AS q_id, w0 AS qw0, w1 AS qw1 FROM sig
        WHERE vec_id < {BQ_NQ}
    ), ham AS (
        SELECT q.q_id, s.vec_id,
               CAST(bit_count(xor(s.w0, q.qw0))
                    + bit_count(xor(s.w1, q.qw1)) AS BIGINT) AS hamming
        FROM sig s CROSS JOIN q
        WHERE s.vec_id <> q.q_id
    ), shortlist AS (
        SELECT q_id, vec_id, hamming,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY hamming, vec_id) AS hrank
        FROM ham
    ), cand_dots AS (
        SELECT sl.q_id, sl.vec_id, sl.hamming,
               CAST(SUM(uc.xi * uq.xi) AS BIGINT) AS dot_fx
        FROM shortlist sl
        JOIN u uc ON uc.vec_id = sl.vec_id
        JOIN u uq ON uq.vec_id = sl.q_id AND uq.i = uc.i
        WHERE sl.hrank <= {BQ_M}
        GROUP BY sl.q_id, sl.vec_id, sl.hamming
    ), approx AS (
        SELECT q_id, vec_id, hamming, dot_fx,
               CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                                       ORDER BY dot_fx DESC, vec_id)
                    AS BIGINT) AS rank
        FROM cand_dots
    ), exact_dots AS (
        SELECT uq.vec_id AS q_id, uc.vec_id,
               CAST(SUM(uc.xi * uq.xi) AS BIGINT) AS dot_fx
        FROM u uc
        JOIN u uq ON uq.vec_id < {BQ_NQ} AND uq.i = uc.i
        WHERE uc.vec_id <> uq.vec_id
        GROUP BY uq.vec_id, uc.vec_id
    ), exact_topk AS (
        SELECT q_id, vec_id
        FROM (SELECT q_id, vec_id,
                     ROW_NUMBER() OVER (PARTITION BY q_id
                                        ORDER BY dot_fx DESC, vec_id) AS r
              FROM exact_dots)
        WHERE r <= {BQ_K}
    ), recall AS (
        SELECT a.q_id,
               CAST(10000 * COUNT(e.vec_id) // {BQ_K} AS BIGINT) AS recall_bp
        FROM approx a
        LEFT JOIN exact_topk e
          ON e.q_id = a.q_id AND e.vec_id = a.vec_id
        WHERE a.rank <= {BQ_K}
        GROUP BY a.q_id
    )
    SELECT a.q_id, a.rank, a.vec_id, a.dot_fx, a.hamming, r.recall_bp
    FROM approx a JOIN recall r ON r.q_id = a.q_id
    WHERE a.rank <= {BQ_K}
"""


def binary_signatures(emb: DataFrame) -> DataFrame:
    """(vec_id, u, w0, w1): fixed-point unit vector (similarity.py
    unit_fx_expr — the shared order-independent quantize contract) + its
    1-bit signature packed into two {BQ_WORD_BITS}-bit BIGINT words (bit b
    of word w = sign of dim w*{BQ_WORD_BITS}+b >= 0). Map-side only — no
    shuffle. The width guard lives INSIDE the word expression (a CASE arm
    feeding a consumed column) so Catalyst cannot prune it away: a
    non-{BQ_DIM}-dim embedding raises instead of silently packing a
    wrong-width signature."""
    bits = (
        f"transform(u, (v, i) -> CASE WHEN v >= 0 THEN "
        f"CAST(1 AS BIGINT) << (i % {BQ_WORD_BITS}) ELSE CAST(0 AS BIGINT) END)"
    )
    word = (
        f"CASE WHEN size(u) = {BQ_DIM} THEN "
        "aggregate(slice({bits}, {lo}, {n}), CAST(0 AS BIGINT), (a, b) -> a + b)"
        f" ELSE raise_error('binary_signatures: embedding width != {BQ_DIM}"
        f" — adjust BQ_DIM / word count') END"
    )
    return emb.select("vec_id", unit_fx_expr().alias("u")).select(
        "vec_id",
        "u",
        F.expr(word.format(bits=bits, lo=1, n=BQ_WORD_BITS)).alias("w0"),
        F.expr(
            word.format(bits=bits, lo=BQ_WORD_BITS + 1, n=BQ_WORD_BITS)
        ).alias("w1"),
    )


@declared("q_binary_ann", oracle=_BINARY_ANN_ORACLE)
def q_binary_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BINARY-quantized ANN: 1 bit per dimension (sign of the unit vector),
    Hamming shortlist, exact re-rank — the 32x index-compression path a
    100 TB vector corpus uses when even int8 (q_embed_quant, 4x) is too
    big to keep hot. Per query vector: top-{BQ_M} candidates by Hamming
    distance over the packed words, exact fixed-point cosine re-rank to
    top-{BQ_K}, and an IN-PLAN recall audit against the brute-force exact
    top-{BQ_K} (recall_bp is a hash-verified output column — the
    similarity.py:1198 audit idiom).

    Engine-exactness: signatures are integer bit-packs of the fixed-point
    unit vector (sign threshold xi >= 0 on an integer); Hamming is
    bit_count(xor) on BIGINT words; dots are integer sums; every rank tie
    breaks on vec_id.

    Scale notes (100 TB): signatures are computed map-side and are 16
    bytes/vector — the Hamming scan shuffles ONLY (q_id, vec_id, hamming)
    census rows (the narrow-shuffle census idiom), never the vectors; the
    shortlist (|Q|x{BQ_M} ids) is broadcast back to fetch full vectors for
    the re-rank, so full-width vectors only ever move for shortlisted
    candidates. The brute-force side exists here as the audit ground truth
    (same class as q_lsh_recall_audit); production serves from signatures
    + shortlist re-rank alone. Per-query rank is a window over the census —
    at production |Q| use the two-level local-top-M merge (the q_topk
    TakeOrdered shape per query). The signature frame deliberately does
    NOT persist even though four branches consume it: q_binary_sweep
    builds the identical subtree, and a registered cache would substitute
    into whichever same-shape plan builds later in the session (the
    CacheManager hazard documented in q_ivf_incr) — plan determinism is
    worth the extra map-side scans, which parallelize freely; the corpus-
    sized exchanges remain the census rank + the audit-only exact rank."""
    t = load_tables(spark, sf_dir)
    sig = binary_signatures(t.embeddings)
    q = sig.filter(F.col("vec_id") < BQ_NQ).select(
        F.col("vec_id").alias("q_id"),
        F.col("u").alias("qu"),
        F.col("w0").alias("qw0"),
        F.col("w1").alias("qw1"),
    )
    # Hamming census: narrow columns only (signatures, not vectors).
    ham = (
        sig.select("vec_id", "w0", "w1")
        .crossJoin(F.broadcast(q.select("q_id", "qw0", "qw1")))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            (
                F.expr("bit_count(w0 ^ qw0)") + F.expr("bit_count(w1 ^ qw1)")
            )
            .cast("bigint")
            .alias("hamming"),
        )
    )
    hw = Window.partitionBy("q_id").orderBy("hamming", "vec_id")
    shortlist = (
        ham.withColumn("hrank", F.row_number().over(hw))
        .filter(F.col("hrank") <= BQ_M)
        .drop("hrank")
    )
    # Re-rank: fetch full fixed-point vectors for shortlisted ids only.
    cand = (
        sig.select("vec_id", "u")
        .join(F.broadcast(shortlist), "vec_id")
        .join(F.broadcast(q.select("q_id", "qu")), "q_id")
        .select(
            "q_id",
            "vec_id",
            "hamming",
            F.aggregate(
                F.zip_with(F.col("u"), F.col("qu"), lambda x, y: x * y),
                F.lit(0).cast("bigint"),
                lambda a, v: a + v,
            ).alias("dot_fx"),
        )
    )
    rw = Window.partitionBy("q_id").orderBy(F.desc("dot_fx"), "vec_id")
    approx = (
        cand.withColumn("rank", F.row_number().over(rw).cast("bigint"))
        .filter(F.col("rank") <= BQ_K)
    )
    # Audit ground truth: brute-force exact top-k per query.
    exact = (
        sig.select("vec_id", "u")
        .crossJoin(F.broadcast(q.select("q_id", "qu")))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            F.aggregate(
                F.zip_with(F.col("u"), F.col("qu"), lambda x, y: x * y),
                F.lit(0).cast("bigint"),
                lambda a, v: a + v,
            ).alias("edot"),
        )
        .withColumn("r", F.row_number().over(
            Window.partitionBy("q_id").orderBy(F.desc("edot"), "vec_id")
        ))
        .filter(F.col("r") <= BQ_K)
        .select("q_id", F.col("vec_id").alias("e_vec"))
    )
    recall = (
        approx.join(
            exact,
            (approx.q_id == exact.q_id) & (approx.vec_id == exact.e_vec),
            "left",
        )
        .groupBy(approx.q_id)
        .agg(F.count("e_vec").alias("n_hit"))
        .select(
            F.col("q_id").alias("r_qid"),
            # integer floor division on BOTH sides (the q_binary_sweep house
            # rule): true-division + cast truncates in Spark but rounds in
            # DuckDB — it only matched while 10000 was divisible by BQ_K.
            F.expr(f"CAST(10000 * n_hit DIV {BQ_K} AS BIGINT)").alias(
                "recall_bp"
            ),
        )
    )
    return approx.join(
        F.broadcast(recall), approx.q_id == recall.r_qid
    ).select("q_id", "rank", "vec_id", "dot_fx", "hamming", "recall_bp")


# --------------------------------------------------------------------------
# q_ivf_incr — IVF index maintenance under APPENDS: new vectors probe the
# existing cells; per-cell growth + drift decide when to retrain
# --------------------------------------------------------------------------

IVFI_CELLS = 8


def _ivf_incr_oracle() -> str:
    """DuckDB twin of q_ivf_incr: replays base-half stride seeding, the
    integer spherical assignment of BOTH halves (the _sim_ivf_oracle
    scoring, similarity.py), and the per-cell growth/drift census."""
    return f"""
    WITH {U_CTE}, st AS (
        SELECT GREATEST(1, COUNT(DISTINCT vec_id) // {IVFI_CELLS}) AS stride
        FROM u WHERE vec_id % 2 = 0
    ), cents AS (
        SELECT vec_id AS cent_vid,
               CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cent_id
        FROM (SELECT DISTINCT vec_id FROM u
              WHERE vec_id % 2 = 0
                AND vec_id % (SELECT stride FROM st) = 0
              ORDER BY vec_id LIMIT {IVFI_CELLS})
    ), cu AS (
        SELECT c.cent_id, u.i, u.xi FROM u JOIN cents c ON u.vec_id = c.cent_vid
    ), csq AS (
        SELECT cent_id, SUM(xi * xi) AS sq FROM cu GROUP BY cent_id
    ), usq AS (
        SELECT vec_id, SUM(xi * xi) AS usq FROM u GROUP BY vec_id
    ), scores AS (
        SELECT v.vec_id, c.cent_id,
               2 * SUM(v.xi * c.xi) - MAX(q.sq) AS score2
        FROM u v JOIN cu c ON v.i = c.i JOIN csq q ON q.cent_id = c.cent_id
        GROUP BY v.vec_id, c.cent_id
    ), assign AS (
        SELECT vec_id, cent_id, score2 FROM (
            SELECT vec_id, cent_id, score2,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY score2 DESC, cent_id) AS rn
            FROM scores
        ) WHERE rn = 1
    ), j AS (
        SELECT a.cent_id, a.vec_id % 2 AS par, q.usq - a.score2 AS sqd
        FROM assign a JOIN usq q ON q.vec_id = a.vec_id
    )
    SELECT CAST(cent_id AS BIGINT) AS cent_id,
           CAST(SUM(CASE WHEN par = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
           CAST(SUM(CASE WHEN par = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
           CAST(10000 * SUM(CASE WHEN par = 1 THEN 1 ELSE 0 END)
                // GREATEST(SUM(CASE WHEN par = 0 THEN 1 ELSE 0 END), 1)
                AS BIGINT) AS growth_bp,
           CAST(SUM(CASE WHEN par = 0 THEN sqd ELSE 0 END)
                // GREATEST(SUM(CASE WHEN par = 0 THEN 1 ELSE 0 END), 1)
                AS BIGINT) AS base_avg_sqd,
           CAST(SUM(CASE WHEN par = 1 THEN sqd ELSE 0 END)
                // GREATEST(SUM(CASE WHEN par = 1 THEN 1 ELSE 0 END), 1)
                AS BIGINT) AS new_avg_sqd,
           CAST(SUM(CASE WHEN par = 1 THEN sqd ELSE 0 END)
                // GREATEST(SUM(CASE WHEN par = 1 THEN 1 ELSE 0 END), 1)
                - SUM(CASE WHEN par = 0 THEN sqd ELSE 0 END)
                // GREATEST(SUM(CASE WHEN par = 0 THEN 1 ELSE 0 END), 1)
                AS BIGINT) AS drift_delta
    FROM j GROUP BY cent_id
    """


@declared("q_ivf_incr", oracle=_ivf_incr_oracle())
def q_ivf_incr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index MAINTENANCE UNDER APPENDS — the ANN-family member of the
    incremental trio (q_dedup_incr: MinHash index probe; q_substring_incr:
    packed-content index probe; THIS: cell-routing probe). Even vec_ids
    are the already-indexed corpus: stride-seeded unit-sphere centroids
    (the q_sim_ivf engine-exact construction) and their cell census are
    the persisted index state. Odd vec_ids arrive as the append batch and
    are routed to the EXISTING cells by the same pure-integer spherical
    argmax (2·dot(x̂,c) − ‖c‖²) — no retraining. The output is the
    retrain-decision table: per cell, base/new counts, growth_bp (load
    imbalance from the append), and the DRIFT readout — average squared
    L2-to-centroid of new vs base members (sqd = usq − score2, exact
    integers): a cell whose new members sit systematically farther from
    its centroid (drift_delta >> 0) is where the append's distribution
    moved and the index needs retraining THERE, not globally.

    Engine-exactness: seeding/assignment identical to the q_sim_ivf
    contract; all census arithmetic is integer floor-division over
    non-negative sums; GREATEST(...,1) guards empty sides.

    Scale notes (100 TB): centroids are an {IVFI_CELLS}-row broadcast;
    assignment of each half is a narrow map + max_by combiner aggregate
    (no window over vectors); the census is {IVFI_CELLS} rows. The batch
    never joins the base corpus — only its routing against the O(cells)
    index state, so ingest cost is O(|batch|·cells·dim), independent of
    corpus size. The one global window is the stride-seeding row_number
    over <= {IVFI_CELLS} rows (ledgered)."""
    t = load_tables(spark, sf_dir)
    # carry par INSIDE the persisted frame: it differentiates this logical
    # plan from q_sim_ivf's persisted u — identical subtrees would make the
    # CacheManager substitute this cache into q_sim_ivf's plan when built
    # later in the same session, drifting its attested plan fingerprint
    u = t.embeddings.select(
        "vec_id",
        (F.col("vec_id") % 2).alias("par"),
        unit_fx_expr().alias("u"),
    ).persist()
    n_base = u.filter(F.col("par") == 0).count()
    stride = max(1, n_base // IVFI_CELLS)
    cents = (
        u.filter((F.col("par") == 0) & (F.col("vec_id") % stride == 0))
        .orderBy("vec_id")
        .limit(IVFI_CELLS)
        .select(
            (F.row_number().over(Window.orderBy("vec_id")) - 1)
            .cast("int")
            .alias("cent_id"),
            F.col("u").alias("c"),
        )
    )
    csq = F.aggregate(
        F.zip_with("c", "c", lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda a, v: a + v,
    )
    cents = cents.select("cent_id", "c", csq.alias("csq"))
    dot_uc = F.aggregate(
        F.zip_with("u", "c", lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda a, v: a + v,
    )
    usq = F.aggregate(
        F.zip_with("u", "u", lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda a, v: a + v,
    )
    scored = u.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "par",
        usq.alias("usq"),
        "cent_id",
        (2 * dot_uc - F.col("csq")).alias("score2"),
    )
    assign = scored.groupBy("vec_id").agg(
        F.first("par").alias("par"),
        F.max_by(
            "cent_id", F.struct(F.col("score2"), (-F.col("cent_id")).alias("tb"))
        ).alias("cent_id"),
        (F.max("usq") - F.max("score2")).alias("sqd"),
    )
    base_n = F.sum(F.when(F.col("par") == 0, 1).otherwise(0)).cast("bigint")
    new_n = F.sum(F.when(F.col("par") == 1, 1).otherwise(0)).cast("bigint")
    return (
        assign.groupBy("cent_id")
        .agg(
            base_n.alias("n_base"),
            new_n.alias("n_new"),
            F.expr(
                "CAST(10000 * SUM(CASE WHEN par = 1 THEN 1 ELSE 0 END)"
                " DIV GREATEST(SUM(CASE WHEN par = 0 THEN 1 ELSE 0 END), 1)"
                " AS BIGINT)"
            ).alias("growth_bp"),
            F.expr(
                "CAST(SUM(CASE WHEN par = 0 THEN sqd ELSE 0 END)"
                " DIV GREATEST(SUM(CASE WHEN par = 0 THEN 1 ELSE 0 END), 1)"
                " AS BIGINT)"
            ).alias("base_avg_sqd"),
            F.expr(
                "CAST(SUM(CASE WHEN par = 1 THEN sqd ELSE 0 END)"
                " DIV GREATEST(SUM(CASE WHEN par = 1 THEN 1 ELSE 0 END), 1)"
                " AS BIGINT)"
            ).alias("new_avg_sqd"),
        )
        .select(
            F.col("cent_id").cast("bigint").alias("cent_id"),
            "n_base",
            "n_new",
            "growth_bp",
            "base_avg_sqd",
            "new_avg_sqd",
            (F.col("new_avg_sqd") - F.col("base_avg_sqd")).alias("drift_delta"),
        )
    )


# --------------------------------------------------------------------------
# q_binary_sweep — the binary-ANN recall-vs-cost OPERATING CURVE (shortlist
# size M), completing the per-index-knob curves (q_nprobe_sweep for IVF-PQ)
# --------------------------------------------------------------------------

BQS_GRID = (16, 32, 64, 128)  # shortlist sizes swept

_BQS_GRID_SQL = ", ".join(f"({m})" for m in BQS_GRID)

_BINARY_SWEEP_ORACLE = f"""
    WITH {U_CTE}, {_SIG_CTE}, q AS (
        SELECT vec_id AS q_id, w0 AS qw0, w1 AS qw1 FROM sig
        WHERE vec_id < {BQ_NQ}
    ), ham AS (
        SELECT q.q_id, s.vec_id,
               CAST(bit_count(xor(s.w0, q.qw0))
                    + bit_count(xor(s.w1, q.qw1)) AS BIGINT) AS hamming
        FROM sig s CROSS JOIN q
        WHERE s.vec_id <> q.q_id
    ), ranked AS (
        SELECT q_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY hamming, vec_id) AS hrank
        FROM ham
    ), cand_dots AS (
        SELECT r.q_id, r.vec_id, r.hrank,
               CAST(SUM(uc.xi * uq.xi) AS BIGINT) AS dot_fx
        FROM ranked r
        JOIN u uc ON uc.vec_id = r.vec_id
        JOIN u uq ON uq.vec_id = r.q_id AND uq.i = uc.i
        WHERE r.hrank <= {max(BQS_GRID)}
        GROUP BY r.q_id, r.vec_id, r.hrank
    ), fan AS (
        SELECT g.m, c.q_id, c.vec_id, c.dot_fx
        FROM cand_dots c JOIN (VALUES {_BQS_GRID_SQL}) AS g(m)
          ON c.hrank <= g.m
    ), approx AS (
        SELECT m, q_id, vec_id
        FROM (SELECT m, q_id, vec_id,
                     ROW_NUMBER() OVER (PARTITION BY m, q_id
                                        ORDER BY dot_fx DESC, vec_id) AS rn
              FROM fan)
        WHERE rn <= {BQ_K}
    ), exact_dots AS (
        SELECT uq.vec_id AS q_id, uc.vec_id,
               CAST(SUM(uc.xi * uq.xi) AS BIGINT) AS dot_fx
        FROM u uc
        JOIN u uq ON uq.vec_id < {BQ_NQ} AND uq.i = uc.i
        WHERE uc.vec_id <> uq.vec_id
        GROUP BY uq.vec_id, uc.vec_id
    ), exact_topk AS (
        SELECT q_id, vec_id
        FROM (SELECT q_id, vec_id,
                     ROW_NUMBER() OVER (PARTITION BY q_id
                                        ORDER BY dot_fx DESC, vec_id) AS r
              FROM exact_dots)
        WHERE r <= {BQ_K}
    ), ncand AS (
        SELECT m, CAST(COUNT(*) AS BIGINT) AS n_cand FROM fan GROUP BY m
    ), hits AS (
        SELECT a.m, CAST(COUNT(e.vec_id) AS BIGINT) AS n_hits
        FROM approx a
        LEFT JOIN exact_topk e
          ON e.q_id = a.q_id AND e.vec_id = a.vec_id
        GROUP BY a.m
    )
    SELECT CAST(n.m AS BIGINT) AS m, n.n_cand, h.n_hits,
           CAST(10000 * h.n_hits // ({BQ_K} * {BQ_NQ}) AS BIGINT) AS recall_bp
    FROM ncand n JOIN hits h ON h.m = n.m
"""


@declared("q_binary_sweep", oracle=_BINARY_SWEEP_ORACLE)
def q_binary_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-ANN OPERATING CURVE — recall@{BQ_K} and candidates re-ranked
    at every shortlist size M in {BQS_GRID}, from ONE Hamming census (the
    q_nprobe_sweep idiom for the 1-bit index: every approximate index in
    the repo ships both a recall audit AND the knob curve a deployment
    tunes against). The Hamming ranking is computed once up to
    max(M)={max(BQS_GRID)}; each grid point's shortlist is a prefix of
    that ranking, so cost (n_cand) is monotone in M by construction and
    exact dots are computed once per candidate, not once per grid point.
    Recall is measured against the exact fixed-point top-{BQ_K}, summed
    over the {BQ_NQ} queries.

    Engine-exactness: the q_binary_ann machinery (integer signatures,
    bit_count Hamming, integer dots, vec_id tiebreaks) plus a
    {len(BQS_GRID)}-row literal join and integer counting.

    Scale notes (100 TB): the census/shortlist analysis is q_binary_ann's
    (signatures move, vectors don't); the sweep adds one fan-out of the
    <= {max(BQS_GRID)}-per-query candidate rows against a broadcast grid —
    not one scan per grid point; top-k windows are (m, q_id)-partitioned."""
    t = load_tables(spark, sf_dir)
    sig = binary_signatures(t.embeddings)
    q = sig.filter(F.col("vec_id") < BQ_NQ).select(
        F.col("vec_id").alias("q_id"),
        F.col("u").alias("qu"),
        F.col("w0").alias("qw0"),
        F.col("w1").alias("qw1"),
    )
    ham = (
        sig.select("vec_id", "w0", "w1")
        .crossJoin(F.broadcast(q.select("q_id", "qw0", "qw1")))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            (F.expr("bit_count(w0 ^ qw0)") + F.expr("bit_count(w1 ^ qw1)"))
            .cast("bigint")
            .alias("hamming"),
        )
    )
    hw = Window.partitionBy("q_id").orderBy("hamming", "vec_id")
    ranked = (
        ham.withColumn("hrank", F.row_number().over(hw))
        .filter(F.col("hrank") <= max(BQS_GRID))
        .select("q_id", "vec_id", "hrank")
    )
    cand_dots = (
        sig.select("vec_id", "u")
        .join(F.broadcast(ranked), "vec_id")
        .join(F.broadcast(q.select("q_id", "qu")), "q_id")
        .select(
            "q_id",
            "vec_id",
            "hrank",
            F.aggregate(
                F.zip_with(F.col("u"), F.col("qu"), lambda x, y: x * y),
                F.lit(0).cast("bigint"),
                lambda a, v: a + v,
            ).alias("dot_fx"),
        )
    )
    import pandas as pd

    # literals through pandas: LocalTableScan, not ExistingRDD (pq.py lesson)
    grid = spark.createDataFrame(
        pd.DataFrame({"m": pd.array(list(BQS_GRID), dtype="int32")})
    )
    fan = cand_dots.join(
        F.broadcast(grid), F.col("hrank") <= F.col("m")
    ).select("m", "q_id", "vec_id", "dot_fx")
    aw = Window.partitionBy("m", "q_id").orderBy(F.desc("dot_fx"), "vec_id")
    approx = (
        fan.withColumn("rn", F.row_number().over(aw))
        .filter(F.col("rn") <= BQ_K)
        .select("m", "q_id", "vec_id")
    )
    exact = (
        sig.select("vec_id", "u")
        .crossJoin(F.broadcast(q.select("q_id", "qu")))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            F.aggregate(
                F.zip_with(F.col("u"), F.col("qu"), lambda x, y: x * y),
                F.lit(0).cast("bigint"),
                lambda a, v: a + v,
            ).alias("edot"),
        )
        .withColumn(
            "r",
            F.row_number().over(
                Window.partitionBy("q_id").orderBy(F.desc("edot"), "vec_id")
            ),
        )
        .filter(F.col("r") <= BQ_K)
        .select(F.col("q_id").alias("e_qid"), F.col("vec_id").alias("e_vec"))
    )
    ncand = fan.groupBy("m").agg(F.count("*").cast("bigint").alias("n_cand"))
    hits = (
        approx.join(
            F.broadcast(exact),
            (F.col("q_id") == F.col("e_qid")) & (F.col("vec_id") == F.col("e_vec")),
            "left",
        )
        .groupBy("m")
        .agg(F.count("e_vec").cast("bigint").alias("n_hits"))
    )
    return (
        ncand.join(hits, "m")
        .select(
            F.col("m").cast("bigint").alias("m"),
            "n_cand",
            "n_hits",
            F.expr(
                f"CAST(10000 * n_hits DIV ({BQ_K} * {BQ_NQ}) AS BIGINT)"
            ).alias("recall_bp"),
        )
    )


# --------------------------------------------------------------------------
# q_index_delta — segment-model inverted index (Lucene/main+delta): the
# merged lookup provably equals a full rebuild, in-plan
# --------------------------------------------------------------------------

IDX_TERMS = ("scan", "window", "value")  # query terms (common at every SF)
IDX_TOPK = 3

_IDX_TERMS_SQL = ", ".join(f"('{t}')" for t in IDX_TERMS)

_INDEX_DELTA_ORACLE = f"""
    WITH tok AS (
        SELECT doc_id, doc_id % 2 AS seg, unnest(string_split(text, ' ')) AS w
        FROM documents
    ), post AS (
        SELECT w, doc_id, seg, CAST(COUNT(*) AS BIGINT) AS tf
        FROM tok GROUP BY w, doc_id, seg
    ), q AS (SELECT * FROM (VALUES {_IDX_TERMS_SQL}) AS q(term)
    ), seg_df AS (
        SELECT p.w AS term,
               CAST(SUM(CASE WHEN seg = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS df_main,
               CAST(SUM(CASE WHEN seg = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS df_delta,
               CAST(COUNT(*) AS BIGINT) AS df_merged,
               CAST(SUM(tf) AS BIGINT) AS tf_merged
        FROM post p JOIN q ON q.term = p.w
        GROUP BY p.w
    ), rebuild AS (
        SELECT w AS term, CAST(COUNT(*) AS BIGINT) AS df_rebuild,
               CAST(SUM(tf) AS BIGINT) AS tf_rebuild
        FROM (SELECT w, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
              FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                    FROM documents) GROUP BY w, doc_id)
        JOIN q ON q.term = w GROUP BY w
    ), topm AS (
        SELECT term,
               array_to_string(
                   list(doc_id ORDER BY tf DESC, doc_id)
                       FILTER (rnk <= {IDX_TOPK}),
                   ',') AS top_merged
        FROM (SELECT p.w AS term, p.doc_id, p.tf,
                     ROW_NUMBER() OVER (PARTITION BY p.w
                                        ORDER BY p.tf DESC, p.doc_id) AS rnk
              FROM post p JOIN q ON q.term = p.w)
        GROUP BY term
    )
    SELECT s.term, s.df_main, s.df_delta, s.df_merged, s.tf_merged,
           r.df_rebuild, r.tf_rebuild,
           CAST(s.df_merged - r.df_rebuild AS BIGINT) AS df_diff,
           CAST(s.tf_merged - r.tf_rebuild AS BIGINT) AS tf_diff,
           t.top_merged
    FROM seg_df s
    JOIN rebuild r ON r.term = s.term
    JOIN topm t ON t.term = s.term
"""


@declared("q_index_delta", oracle=_INDEX_DELTA_ORACLE)
def q_index_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEGMENT-MODEL inverted index (the Lucene main+delta pattern): the
    corpus's postings live in two segments (even doc_ids = the long-lived
    MAIN index; odd = the fresh DELTA segment appends land in), a term
    lookup reads BOTH and merges — and the query emits the
    maintenance≡rebuild proof IN-PLAN (the q_incr_join idiom, applied to
    text retrieval): merged df/tf per query term minus a from-scratch
    single-index rebuild, hash-verified at 0. Also returns each term's
    top-{IDX_TOPK} posting doc_ids by (tf, doc_id) from the merged
    segments — the ranked lookup a search serves.

    Why segments matter at 100 TB: rebuilding one monolithic inverted
    index per ingest batch is O(corpus); the segment model appends a
    delta index (O(batch)) and merges AT QUERY TIME (df/tf are
    sum-mergeable because each doc lives in exactly one segment), with
    background compaction amortized (q_compaction_plan is the planning
    half). This closes the incremental quartet: LSH (q_dedup_incr),
    packed substrings (q_substring_incr), IVF cells (q_ivf_incr), and now
    text postings.

    Engine-exactness: integer tf/df; query terms are a 3-row literal
    table (the q_phrase_search broadcast-the-query rule — the corpus
    never shuffles, only query-term postings); top-k ties break on
    doc_id; the top list is ORDER-constructed on both sides.

    Scale notes (100 TB): postings build is one map-side-combined
    aggregate per segment (tokens never shuffle — the (w, doc_id) combine
    happens map-side); the lookup semi-joins the 3-term broadcast before
    any aggregation, so the plan touches query-term postings only; the
    rebuild side is the audit ground truth."""
    t = load_tables(spark, sf_dir)
    import pandas as pd

    tok = t.documents.select(
        "doc_id",
        (F.col("doc_id") % 2).alias("seg"),
        F.explode(F.split("text", " ")).alias("w"),
    )
    q = F.broadcast(
        spark.createDataFrame(pd.DataFrame({"term": list(IDX_TERMS)}))
    )
    post = (
        tok.join(q, tok.w == q.term)
        .groupBy("w", "doc_id", "seg")
        .agg(F.count("*").cast("bigint").alias("tf"))
    )
    seg_df = post.groupBy(F.col("w").alias("term")).agg(
        F.sum(F.when(F.col("seg") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("df_main"),
        F.sum(F.when(F.col("seg") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("df_delta"),
        F.count("*").cast("bigint").alias("df_merged"),
        F.sum("tf").cast("bigint").alias("tf_merged"),
    )
    rebuild = (
        t.documents.select(
            "doc_id", F.explode(F.split("text", " ")).alias("w")
        )
        .join(q, F.col("w") == F.col("term"))
        .groupBy("w", "doc_id")
        .agg(F.count("*").cast("bigint").alias("tf"))
        .groupBy(F.col("w").alias("r_term"))
        .agg(
            F.count("*").cast("bigint").alias("df_rebuild"),
            F.sum("tf").cast("bigint").alias("tf_rebuild"),
        )
    )
    rk = Window.partitionBy("w").orderBy(F.desc("tf"), "doc_id")
    topm = (
        post.withColumn("rnk", F.row_number().over(rk))
        .filter(F.col("rnk") <= IDX_TOPK)
        .groupBy(F.col("w").alias("t_term"))
        .agg(
            # ordered list via sorted (rnk, doc_id) structs — Spark's
            # array_agg has no ORDER BY clause; serialized to a CSV string
            # because hash-declared queries must not ship array columns
            # (the driver canonicalizer cannot sort raw lists — r11's one
            # red row; see assert_hashable_schema in plans/registry.py)
            F.expr(
                "array_join(transform("
                "array_sort(collect_list(struct(rnk, doc_id))),"
                " s -> cast(s.doc_id as string)), ',')"
            ).alias("top_merged")
        )
    )
    return (
        seg_df.join(F.broadcast(rebuild), seg_df.term == rebuild.r_term)
        .join(F.broadcast(topm), seg_df.term == topm.t_term)
        .select(
            "term",
            "df_main",
            "df_delta",
            "df_merged",
            "tf_merged",
            "df_rebuild",
            "tf_rebuild",
            (F.col("df_merged") - F.col("df_rebuild"))
            .cast("bigint")
            .alias("df_diff"),
            (F.col("tf_merged") - F.col("tf_rebuild"))
            .cast("bigint")
            .alias("tf_diff"),
            "top_merged",
        )
    )


# --------------------------------------------------------------------------
# q_rank_eval — rank displacement of the exact NN under int8 quantization
# (the MRR-style eval readout the set-recall audits don't capture)
# --------------------------------------------------------------------------

RE_NQ = 8  # query vectors: vec_id 0..7 (present at every SF)

# Shared fixed-point unit-vector CTE (similarity.U_CTE, as in q_binary_ann).
_RANK_EVAL_ORACLE = f"""
    WITH {U_CTE}, mx AS (
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
        "vec_id", "embedding", unit_fx_expr().alias("u")
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
# q_maxsim_topk — late-interaction (ColBERT MaxSim) retrieval over
# sub-vector decompositions, fixed-point exact
# --------------------------------------------------------------------------

MS_NQ = 4  # query vectors: vec_id 0..3
MS_SUB = 4  # sub-vectors per embedding (64 dims -> 4 x 16)
MS_SUBDIM = 16
MS_K = 5  # results per query

# per-(vec, slice) fixed-point unit sub-vector: same arithmetic as
# similarity.unit_fx_expr, applied to each 16-dim slice independently
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
    (the per-slice twin of similarity.unit_fx_expr). Map-side only.
    Shared by q_maxsim_topk (exact late interaction) and
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

    Engine-exactness: per-slice unit vectors use the unit_fx_expr
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
# q_quant_sweep — the scalar-quantization BITS operating curve: rank
# displacement of the exact NN at 2/4/8 bits per dimension, one pass
# --------------------------------------------------------------------------

QS_BITS = (2, 4, 8)  # bits per dimension; levels = 2^(b-1) - 1 (symmetric)

_QUANT_SWEEP_ORACLE = f"""
    WITH {U_CTE}, mx AS (
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
        "vec_id", "embedding", unit_fx_expr().alias("u"), mabs.alias("mabs")
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


# --------------------------------------------------------------------------
# q_maxsim_rerank — binary Hamming shortlist -> MaxSim re-rank, recall
# audited in-plan against the exact MaxSim top-k
# --------------------------------------------------------------------------

MR_NQ = 4  # query vectors: vec_id 0..3 (present at every SF)
MR_M = 32  # stage-1 shortlist size per query
MR_K = 5  # re-ranked results per query
MR_SUBDIM = 16  # slice width (64 dims -> 4 x 16, the q_maxsim_topk MS_* layout)
MR_LEVELS = 127  # int8 symmetric levels for the stage-1 codes

# Per-slice fixed-point unit sub-vectors (q_maxsim_topk _MS_U_SQL arithmetic) with
# CTE names disjoint from U_CTE so both vector views could coexist; su
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

    Engine-exactness: slice units are the q_maxsim_topk _MS_U_SQL arithmetic
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

    base = t.embeddings.select(
        "vec_id",
        "embedding",
        unit_fx_expr().alias("u"),
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
