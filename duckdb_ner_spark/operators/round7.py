"""Round-7 operator family: graph centrality, privacy auditing, quality-
aware dedup collapse, and corpus novelty — LLM-pipeline operators beyond
SURVEY.md §2's letter (no reference counterpart; the reference is a 755-LoC
NER extension, src/ner_extension.cpp).

Engine-exactness follows the house rules (operators/relational.py header):
every comparison column is either an integer (fixed-point, floor division —
Spark ``div`` and DuckDB ``//`` agree on non-negatives) or a deterministic
total order; no ROUND(double, n>0), no order-dependent float folds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.cachereg import memoized
from ..plans.registry import declared
from ..sources.catalog import load_tables
from .components import (
    _clusters_oracle,
    connected_components,
    day1_cooccurrence_graph,
    day1_directed_edges,
)

# --------------------------------------------------------------------------
# Fixed-point PageRank (graph centrality for dedup/source weighting)
# --------------------------------------------------------------------------

PR_SCALE = 10**12  # total initial mass; per-node values stay < 1e12 << 2^63
PR_ITERS = 3
PR_TOP = 20

_PR_GRAPH_CTE = """
    co AS (
        SELECT DISTINCT date_trunc('hour', ts) AS h, user_id FROM events
        WHERE ts < TIMESTAMP '2024-01-02 00:00:00'
    ), uedges AS (
        SELECT DISTINCT a.user_id AS u, b.user_id AS v
        FROM co a JOIN co b ON a.h = b.h AND a.user_id < b.user_id
    ), dirn AS (
        SELECT u AS src, v AS dst FROM uedges
        UNION ALL SELECT v, u FROM uedges
    ), deg AS (
        SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg
        FROM dirn GROUP BY src
    ), nn AS (SELECT COUNT(*) AS n FROM deg)
"""


def _pr_iter_ctes() -> str:
    """r0..r{PR_ITERS}: one inflow+update CTE pair per iteration, all
    integer arithmetic (floor division at every step, so the update is
    bit-identical in any engine and any evaluation order)."""
    tele = f"(15 * ({PR_SCALE} // (SELECT n FROM nn))) // 100"
    ctes = [
        f"""r0 AS (
        SELECT node, CAST({PR_SCALE} // (SELECT n FROM nn) AS BIGINT) AS pr
        FROM deg
    )"""
    ]
    for i in range(PR_ITERS):
        ctes.append(f"""f{i + 1} AS (
        SELECT e.dst AS node, CAST(SUM(r.pr // dg.deg) AS BIGINT) AS infl
        FROM dirn e
        JOIN r{i} r ON r.node = e.src
        JOIN deg dg ON dg.node = e.src
        GROUP BY e.dst
    ), r{i + 1} AS (
        SELECT d.node,
               CAST({tele} + (85 * COALESCE(f.infl, 0)) // 100 AS BIGINT) AS pr
        FROM deg d LEFT JOIN f{i + 1} f ON f.node = d.node
    )""")
    return ", ".join(ctes)


_PAGERANK_ORACLE = f"""
    WITH {_PR_GRAPH_CTE}, {_pr_iter_ctes()}
    SELECT CAST(node AS BIGINT) AS user_id, pr AS pr_fx
    FROM r{PR_ITERS}
    ORDER BY pr DESC, node
    LIMIT {PR_TOP}
"""


@declared("q_pagerank", oracle=_PAGERANK_ORACLE)
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point integer PageRank over the first-day user co-occurrence
    graph, {PR_ITERS} unrolled iterations, damping 85/100 — the centrality
    signal a curation pipeline uses to weight sources/users by influence
    (and the classic iterative-dataflow stress test for an engine).

    Engine-exactness: mass starts as PR_SCALE // N per node and every
    update is r' = (15·(S//N))//100 + (85·Σ(r_u // deg_u))//100 — floor
    division at each step, so both engines compute the identical integer
    mass regardless of summation order; the oracle replays the iterations
    as unrolled CTEs. Mass is deliberately NOT conserved (each floor leaks
    <1 unit) — determinism is the contract, not stochasticity.

    Scale notes (100 TB): each iteration is one join of the edge list with
    the (node, pr) table — shuffle keyed on node ids, AQE-skew-splittable;
    the contribution sum is a map-side-combined integer aggregate; ranks
    never collect to the driver (the only driver action is the node COUNT
    for the teleport constant). {PR_ITERS} iterations = {PR_ITERS}
    chained shuffles, the Pregel shape without per-round checkpoints
    (lineage stays linear in iteration count; past ~10 iterations use the
    connected_components localCheckpoint pattern, components.py:64-71)."""
    edges, deg = day1_cooccurrence_graph(spark, sf_dir)
    dirn = day1_directed_edges(spark, sf_dir)  # src-partitioned, shared
    r = pagerank_ranks(dirn, deg, deg.count())
    return (
        r.orderBy(F.col("pr").desc(), "node")
        .limit(PR_TOP)
        .select(F.col("node").cast("bigint").alias("user_id"), F.col("pr").alias("pr_fx"))
    )


def pagerank_ranks(
    dirn: DataFrame, deg: DataFrame, n: int, iters: int = PR_ITERS
) -> DataFrame:
    """The q_pagerank iteration core on an arbitrary directed edge list
    ``dirn(src, dst)`` + degree table ``deg(node, deg)`` — factored out for
    the scaling probe and planted-graph tests. USING-joins on renamed key
    columns throughout: dirn/deg usually descend from one edge list, so
    expression-id joins would be ambiguous self-joins."""
    base = PR_SCALE // n
    tele = (15 * base) // 100
    r = deg.select("node", F.lit(base).cast("bigint").alias("pr"))
    for _ in range(iters):
        shares = (
            r.join(deg.select("node", "deg"), "node")
            .select(F.col("node").alias("src"), F.expr("pr div deg").alias("share"))
        )
        infl = (
            dirn.join(shares, "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("share").cast("bigint").alias("infl"))
        )
        r = deg.select("node").join(infl, "node", "left").select(
            "node",
            (F.lit(tele) + F.expr("(85 * COALESCE(infl, 0)) div 100"))
            .cast("bigint")
            .alias("pr"),
        )
    return r


# --------------------------------------------------------------------------
# k-anonymity audit (privacy QC before publishing a training corpus)
# --------------------------------------------------------------------------

KANON_K = 5
KANON_LEN_BUCKET = 32

_KANON_ORACLE = f"""
    WITH qi AS (
        SELECT lang, source, n_chars // {KANON_LEN_BUCKET} AS len_bucket,
               COUNT(*) AS grp_sz
        FROM documents GROUP BY 1, 2, 3
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(CASE WHEN grp_sz < {KANON_K} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_risky_groups,
           CAST(SUM(CASE WHEN grp_sz < {KANON_K} THEN grp_sz ELSE 0 END) AS BIGINT)
               AS n_docs_at_risk,
           CAST(MIN(grp_sz) AS BIGINT) AS min_group_size
    FROM qi GROUP BY lang
"""


@declared("q_k_anonymity", oracle=_KANON_ORACLE)
def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the quasi-identifier tuple (lang, source,
    length bucket): how many QI groups fall below k={KANON_K} members —
    each such group's documents are re-identifiable by their metadata
    alone, the standard pre-publication privacy gate for a shared corpus
    (complements q_pii_scrub, which handles in-text identifiers).

    All counting is integer and the length bucket is floor division, so
    the oracle matches bit-for-bit. Scale: two hash aggregations (QI
    tuple, then lang) — the first keyed on a high-cardinality composite,
    map-side combined; nothing else touches the corpus."""
    t = load_tables(spark, sf_dir)
    qi = t.documents.groupBy(
        "lang",
        "source",
        F.expr(f"n_chars div {KANON_LEN_BUCKET}").alias("len_bucket"),
    ).agg(F.count("*").alias("grp_sz"))
    risky = F.col("grp_sz") < KANON_K
    return qi.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_groups"),
        F.sum(F.when(risky, 1).otherwise(0)).cast("bigint").alias("n_risky_groups"),
        F.sum(F.when(risky, F.col("grp_sz")).otherwise(0))
        .cast("bigint")
        .alias("n_docs_at_risk"),
        F.min("grp_sz").cast("bigint").alias("min_group_size"),
    )


# --------------------------------------------------------------------------
# Quality-aware near-dup collapse (keep the BEST of each cluster, not min-id)
# --------------------------------------------------------------------------

_KEEP_BEST_ORACLE = (
    _clusters_oracle()
    + """, best AS (
        SELECT comp, doc_id, n_chars,
               ROW_NUMBER() OVER (PARTITION BY comp
                                  ORDER BY n_chars DESC, doc_id) AS rn
        FROM comps JOIN documents ON doc_id = node
    )
    SELECT CAST(comp AS BIGINT) AS cluster_id,
           CAST(doc_id AS BIGINT) AS keeper_id,
           CAST(n_chars AS BIGINT) AS keeper_chars,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM comps c WHERE c.comp = best.comp)
               AS n_members
    FROM best WHERE rn = 1
"""
)


@declared("q_dedup_keep_best", oracle=_KEEP_BEST_ORACLE)
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware cluster collapse: for every near-dup cluster
    (q_dedup_clusters' MinHash-LSH + connected components), keep the
    HIGHEST-QUALITY member — here argmax (n_chars, lowest doc_id as the
    tiebreak) — instead of collapse_near_dups' min-id convention. This is
    what production dedup actually ships: when a boilerplate cluster holds
    one full article and thirty truncated scrapes, min-id keeps an
    arbitrary member; keep-best keeps the article.

    Engine-exactness: the representative is an integer argmax under a
    total order — Spark max_by over a (n_chars, -doc_id) struct, DuckDB a
    partitioned ROW_NUMBER — both resolve ties identically. Scale: the
    cluster table is pairs-sized (tiny relative to the corpus); the
    quality join touches only clustered docs (semi-join pushdown)."""
    from .dedup import dedup_near_minhash

    t = load_tables(spark, sf_dir)
    pairs = dedup_near_minhash(t.documents, threshold=0.6).select("doc_a", "doc_b")
    comps = connected_components(pairs)
    members = comps.join(
        t.documents.select(F.col("doc_id").alias("node"), "n_chars"), "node"
    )
    return (
        members.groupBy("comp")
        .agg(
            F.max_by(
                F.struct(F.col("node").alias("doc_id"), F.col("n_chars")),
                F.struct(F.col("n_chars"), (-F.col("node")).alias("tb")),
            ).alias("best"),
            F.count("*").cast("bigint").alias("n_members"),
        )
        .select(
            F.col("comp").cast("bigint").alias("cluster_id"),
            F.col("best.doc_id").cast("bigint").alias("keeper_id"),
            F.col("best.n_chars").cast("bigint").alias("keeper_chars"),
            "n_members",
        )
    )


# --------------------------------------------------------------------------
# N-gram novelty (marginal-content scoring per source)
# --------------------------------------------------------------------------

def _novelty_oracle() -> str:
    from .textprep import sql_shingles

    return f"""
    WITH docs AS (
        SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents
    ), sh AS (
        SELECT doc_id, source, {sql_shingles(3)} AS grams
        FROM docs WHERE LEN(ws) >= 3
    ), e AS (
        SELECT doc_id, source, unnest(grams) AS g FROM sh
    ), firsts AS (
        SELECT g, MIN(doc_id) AS first_doc FROM e GROUP BY g
    ), per_doc AS (
        SELECT e.doc_id, e.source,
               COUNT(*) AS n_grams,
               SUM(CASE WHEN f.first_doc = e.doc_id THEN 1 ELSE 0 END) AS n_novel
        FROM e JOIN firsts f ON f.g = e.g
        GROUP BY e.doc_id, e.source
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_grams) AS BIGINT) AS total_grams,
           CAST(SUM(n_novel) AS BIGINT) AS novel_grams,
           CAST((SUM(n_novel) * 1000000) // SUM(n_grams) AS BIGINT) AS novelty_fx
    FROM per_doc GROUP BY source
"""


@declared("q_ngram_novelty", oracle=_novelty_oracle())
def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marginal-content scoring: per source, what fraction of its distinct
    3-gram shingles appear for the FIRST time (by doc_id order) in that
    source's documents — the curve a curation pipeline reads to decide
    which crawl still adds new content and which is re-serving what the
    corpus already has (the incremental complement of q_dedup_yield's
    removal accounting).

    First-occurrence attribution is MIN(doc_id) per shingle — a total
    order, no timestamps needed, deterministic in both engines; the ratio
    is integer fixed-point (·1e6, floor). Scale notes (100 TB): one
    explode-distinct per doc, one shuffle keyed on the shingle (the
    inverted-index shape shared with q_dedup_ngram), a map-side-combined
    min, and a join back on the shingle key; per-source rollup is a
    broadcast-sized aggregate. Shingle strings can be swapped for xxhash64
    digests at production scale — same plan, 8-byte keys."""
    from .textprep import shingles_expr, words_col

    t = load_tables(spark, sf_dir)
    sh = (
        t.documents.select(
            "doc_id", "source", words_col("text").alias("ws")
        )
        .filter(F.size("ws") >= 3)
        .select("doc_id", "source", shingles_expr().alias("grams"))
    )
    e = sh.select("doc_id", "source", F.explode("grams").alias("g"))
    firsts = e.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        e.join(firsts, "g")
        .groupBy("doc_id", "source")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)).alias(
                "n_novel"
            ),
        )
    )
    return per_doc.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_grams").cast("bigint").alias("total_grams"),
        F.sum("n_novel").cast("bigint").alias("novel_grams"),
        F.expr("(SUM(n_novel) * 1000000) div SUM(n_grams)")
        .cast("bigint")
        .alias("novelty_fx"),
    )


# --------------------------------------------------------------------------
# Semi-supervised label propagation (the third graph-algebra primitive)
# --------------------------------------------------------------------------

LP_ITERS = 2
LP_SEED_MOD = 5  # nodes with node % 5 == 0 are seeded
LP_N_LABELS = 3  # seed label = node % 3


def _lp_iter_ctes() -> str:
    """lab0..lab{LP_ITERS}: majority-vote propagation unrolled. Each round,
    an unlabeled node adopts the most common label among its labeled
    neighbors (ties -> smallest label); seeds never change. Counting is
    integer and the argmax is a (count DESC, label ASC) total order, so
    both engines pick identical labels."""
    ctes = [
        f"""lab0 AS (
        SELECT node,
               CASE WHEN node % {LP_SEED_MOD} = 0 THEN node % {LP_N_LABELS} END AS lbl
        FROM deg
    )"""
    ]
    for i in range(LP_ITERS):
        ctes.append(f"""cnt{i + 1} AS (
        SELECT e.dst AS node, l.lbl, COUNT(*) AS c
        FROM dirn e JOIN lab{i} l ON l.node = e.src
        WHERE l.lbl IS NOT NULL
        GROUP BY e.dst, l.lbl
    ), pick{i + 1} AS (
        SELECT node, lbl FROM (
            SELECT node, lbl,
                   ROW_NUMBER() OVER (PARTITION BY node ORDER BY c DESC, lbl) AS rn
            FROM cnt{i + 1}
        ) WHERE rn = 1
    ), lab{i + 1} AS (
        SELECT d.node,
               CASE WHEN d.node % {LP_SEED_MOD} = 0 THEN d.node % {LP_N_LABELS}
                    ELSE p.lbl END AS lbl
        FROM deg d LEFT JOIN pick{i + 1} p ON p.node = d.node
    )""")
    return ", ".join(ctes)


def label_prop_labels(
    edges: DataFrame, deg: DataFrame, dirn: DataFrame | None = None
) -> DataFrame:
    """The LP_ITERS-round majority-vote propagation core shared by
    q_label_prop (class census) and q_modularity (community quality):
    returns (node, lbl) with lbl NULL where propagation never reached.
    Pass a pre-partitioned ``dirn(src, dst)`` (day1_directed_edges) to let
    every round's edge join reuse one src hash partitioning.

    r14 (guide §2.4): the vote argmax is PIVOTED over the LP_N_LABELS
    (3, a compile-time constant) — one aggregate per round producing a
    count column per label, with the argmax as a greatest()/CASE
    projection. The old (node, lbl)-keyed count + (node)-keyed max_by pair
    cost two exchanges per round; the pivoted form costs one, and its
    output is node-partitioned so the re-attach join to deg needs no
    further shuffle. Identical labels: integer vote counts per label are
    the same numbers either way, labels with zero votes can never win
    (any voted node has a count ≥ 1), and the CASE checks labels in
    ascending order so ties break to the smallest label exactly like the
    old (count, -lbl) max_by total order."""
    if dirn is None:
        dirn = edges.select(
            F.col("u").alias("src"), F.col("v").alias("dst")
        ).unionAll(edges.select(F.col("v").alias("src"), F.col("u").alias("dst")))
    seed = F.when(
        F.col("node") % LP_SEED_MOD == 0, F.col("node") % LP_N_LABELS
    ).cast("bigint")
    lab = deg.select("node", seed.alias("lbl"))
    for _ in range(LP_ITERS):
        votes = (
            dirn.join(
                lab.filter(F.col("lbl").isNotNull()).select(
                    F.col("node").alias("src"), "lbl"
                ),
                "src",
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(
                *[
                    F.sum(F.when(F.col("lbl") == k, 1).otherwise(0)).alias(f"c{k}")
                    for k in range(LP_N_LABELS)
                ]
            )
        )
        top = F.greatest(*[F.col(f"c{k}") for k in range(LP_N_LABELS)])
        picked = F.when(F.col("c0") == top, F.lit(0))
        for k in range(1, LP_N_LABELS - 1):
            picked = picked.when(F.col(f"c{k}") == top, F.lit(k))
        picked = picked.otherwise(F.lit(LP_N_LABELS - 1))
        pick = votes.select("node", picked.alias("picked"))
        lab = deg.select("node").join(pick, "node", "left").select(
            "node", F.coalesce(seed, F.col("picked")).cast("bigint").alias("lbl")
        )
    return lab


# q_label_prop and q_modularity consume the SAME propagated (node, lbl)
# table; sharing one persisted copy runs the LP_ITERS propagation rounds
# once per session instead of once per query (VERDICT r7 Next-round #6 —
# "share the propagation core at runtime, not just in code"); correctness
# never depends on the memo (a cold miss just recomputes).
@memoized
def day1_propagated_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges, deg = day1_cooccurrence_graph(spark, sf_dir)
    return label_prop_labels(
        edges, deg, dirn=day1_directed_edges(spark, sf_dir)
    ).persist()


_LABEL_PROP_ORACLE = f"""
    WITH {_PR_GRAPH_CTE}, {_lp_iter_ctes()}
    SELECT CAST(COALESCE(lbl, -1) AS BIGINT) AS label,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(MIN(node) AS BIGINT) AS min_node
    FROM lab{LP_ITERS} GROUP BY 1
"""


@declared("q_label_prop", oracle=_LABEL_PROP_ORACLE)
def q_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised label propagation over the co-occurrence graph:
    every {LP_SEED_MOD}th node is seeded with a class (node % {LP_N_LABELS});
    {LP_ITERS} rounds of majority vote spread the classes to unlabeled
    neighbors (ties -> smallest label; seeds immutable). Output: class
    census after propagation, unlabeled = -1. With components (min-label),
    PageRank (weighted sum), and this (argmax majority), the engine covers
    the three aggregation primitives every Pregel-style graph algorithm
    composes from.

    Engine-exactness: integer vote counts, total-order argmax — Spark
    max_by over a (c, -lbl) struct vs the oracle's partitioned ROW_NUMBER,
    identical tiebreak. Scale notes (100 TB): per round, one edge-list
    join shuffled on node ids + one map-side-combined count + one argmax
    aggregate — the PageRank shuffle shape with an extra (node, label)
    key; the census is a {LP_N_LABELS + 1}-row aggregate."""
    lab = day1_propagated_labels(spark, sf_dir)
    return lab.groupBy(F.coalesce("lbl", F.lit(-1)).cast("bigint").alias("label")).agg(
        F.count("*").cast("bigint").alias("n_nodes"),
        F.min("node").cast("bigint").alias("min_node"),
    )


# --------------------------------------------------------------------------
# Hard-negative mining (contrastive-training data prep)
# --------------------------------------------------------------------------

HN_N_ANCHORS = 8


def _hard_neg_oracle() -> str:
    from .similarity import FX_SCALE

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
    from .similarity import FX_SCALE

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
# Multi-source BFS hop distance (the min-plus graph primitive)
# --------------------------------------------------------------------------

BFS_ROUNDS = 3
BFS_SEED_MOD = 10  # nodes with node % 10 == 0 are sources


def _bfs_iter_ctes() -> str:
    """d0..d{BFS_ROUNDS}: min-plus relaxation unrolled. d_i holds every
    node reached within i hops with its exact hop distance; each round
    extends the table by one edge hop and re-MINs. MIN over integers is
    order-independent, so both engines agree bit-for-bit."""
    ctes = [
        f"""d0 AS (
        SELECT node, 0 AS dist FROM deg WHERE node % {BFS_SEED_MOD} = 0
    )"""
    ]
    for i in range(BFS_ROUNDS):
        ctes.append(f"""d{i + 1} AS (
        SELECT node, MIN(dist) AS dist FROM (
            SELECT node, dist FROM d{i}
            UNION ALL
            SELECT e.dst AS node, d.dist + 1 AS dist
            FROM dirn e JOIN d{i} d ON d.node = e.src
        ) GROUP BY node
    )""")
    return ", ".join(ctes)


_BFS_ORACLE = f"""
    WITH {_PR_GRAPH_CTE}, {_bfs_iter_ctes()}
    SELECT CAST(COALESCE(d.dist, -1) AS INTEGER) AS dist,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(MIN(dg.node) AS BIGINT) AS min_node,
           CAST(SUM(dg.node) AS BIGINT) AS sum_node
    FROM deg dg LEFT JOIN d{BFS_ROUNDS} d ON d.node = dg.node
    GROUP BY 1
"""


@declared("q_bfs_dist", oracle=_BFS_ORACLE)
def q_bfs_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS hop distance over the co-occurrence graph: every
    {BFS_SEED_MOD}th node is a source; {BFS_ROUNDS} unrolled min-plus
    rounds give each node its exact distance to the nearest source (the
    reachability radius a crawl-frontier or influence-propagation audit
    needs). Output: distance census, unreached = -1. With components
    (min-label), PageRank (weighted sum), label propagation (argmax
    majority), and this (min-plus), the engine covers all four Pregel
    aggregation primitives.

    Engine-exactness: distances are small integers combined only by MIN
    (+1 per hop) — commutative, associative, idempotent; identical in any
    evaluation order on both engines. The census adds SUM(node) as a
    content check beyond counts.

    Scale notes (100 TB): per round, one join of the edge list with the
    reached-set shuffled on node ids + one map-side-combined MIN — the
    PageRank shuffle shape; the reached set only grows by frontier
    expansion and carries 2 integers per node. The UNION ALL keeps
    already-settled nodes without a second scan of the corpus. Unrolled
    {BFS_ROUNDS} rounds = linear lineage; for deep diameters switch to
    the connected_components localCheckpoint pattern and a
    frontier-delta (only nodes whose dist changed) to cut join volume."""
    edges, deg = day1_cooccurrence_graph(spark, sf_dir)
    dirn = day1_directed_edges(spark, sf_dir)  # src-partitioned, shared
    d = deg.filter(F.col("node") % BFS_SEED_MOD == 0).select(
        "node", F.lit(0).alias("dist")
    )
    for i in range(BFS_ROUNDS):
        # FRONTIER-DELTA (r14, guide §2.3 — shuffle fewer bytes): expand
        # only from nodes first reached LAST round (their exact dist is the
        # round number, so the frontier is a narrow filter over d — no
        # anti-join, and d's shuffle is reused under it). Hops from
        # already-settled nodes are pure duplicates: a node settled in
        # round j < i already sent its neighbors dist j+1 ≤ i, which the
        # MIN keeps over any later j'+1 — so dropping them changes nothing
        # (hash-attested vs the full-relaxation oracle at 3 SFs). At scale
        # the per-round join volume falls from |reached| to |frontier|.
        frontier = d.filter(F.col("dist") == i)
        hop = dirn.join(frontier.withColumnRenamed("node", "src"), "src").select(
            F.col("dst").alias("node"), (F.col("dist") + 1).alias("dist")
        )
        d = d.unionAll(hop).groupBy("node").agg(F.min("dist").alias("dist"))
    return (
        deg.select(F.col("node"))
        .join(d, "node", "left")
        .groupBy(F.coalesce("dist", F.lit(-1)).cast("int").alias("dist"))
        .agg(
            F.count("*").cast("bigint").alias("n_nodes"),
            F.min("node").cast("bigint").alias("min_node"),
            F.sum("node").cast("bigint").alias("sum_node"),
        )
    )

# --------------------------------------------------------------------------
# Ingest-drift audit: total-variation distance between corpus halves
# --------------------------------------------------------------------------

TVD_SCALE = 10**6


def _drift_oracle() -> str:
    s = TVD_SCALE
    return f"""
    WITH tot AS (SELECT COUNT(*) AS n FROM documents),
    halves AS (
        SELECT source,
               CAST(SUM(CASE WHEN doc_id * 2 < (SELECT n FROM tot)
                             THEN 1 ELSE 0 END) AS BIGINT) AS o1,
               CAST(SUM(CASE WHEN doc_id * 2 >= (SELECT n FROM tot)
                             THEN 1 ELSE 0 END) AS BIGINT) AS o2
        FROM documents GROUP BY source
    ), ns AS (
        SELECT CAST(SUM(o1) AS BIGINT) AS n1, CAST(SUM(o2) AS BIGINT) AS n2
        FROM halves
    ), cells AS (
        SELECT source, o1, o2,
               ABS(o1 * (SELECT n2 FROM ns) - o2 * (SELECT n1 FROM ns)) AS dev
        FROM halves
    )
    SELECT source, o1 AS n_first, o2 AS n_second,
           CAST(({s} * dev) // ((SELECT n1 FROM ns) * (SELECT n2 FROM ns))
                AS BIGINT) AS dev_fx
    FROM cells
    UNION ALL
    SELECT '__TOTAL__', (SELECT n1 FROM ns), (SELECT n2 FROM ns),
           CAST(({s} * CAST(SUM(dev) AS BIGINT))
                // (2 * (SELECT n1 FROM ns) * (SELECT n2 FROM ns)) AS BIGINT)
    FROM cells
"""


@declared("q_drift_tvd", oracle=_drift_oracle())
def q_drift_tvd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-drift audit: total-variation distance between the source
    mixture of the FIRST half of the corpus (by doc_id, the ingest-order
    proxy) and the SECOND half — the monitoring statistic a production
    pipeline alarms on when a crawl's composition shifts mid-run. Output:
    one row per source with its half-counts and per-source deviation, plus
    a '__TOTAL__' row whose dev_fx IS the TVD (in 1e-6 units).

    Engine-exactness: TVD = (S · Σ|o1·N2 − o2·N1|) // (2·N1·N2) — exact
    integer cross-multiplication (no per-source probability rounding), ONE
    floor division at the very end; per-source dev_fx floors independently
    (the total is computed from the raw |..| sums, not the floored rows).

    Scale notes (100 TB): one map-side-combined conditional aggregate over
    the corpus keyed on source, then arithmetic over a 20-row table; N1/N2
    are two driver scalars (the pagerank n precedent). Overflow: o·N ≤ N²
    needs N ≤ 3e9 for the int64 product — past that, pre-aggregate counts
    per (shard, source) and divide both sides by a common 10^k, or move
    the 40-row final arithmetic to DECIMAL(38,0); the corpus-scan stage is
    unaffected."""
    t = load_tables(spark, sf_dir)
    docs = t.documents
    n = docs.count()
    first = F.col("doc_id") * 2 < n
    halves = docs.groupBy("source").agg(
        F.sum(F.when(first, 1).otherwise(0)).cast("bigint").alias("o1"),
        F.sum(F.when(~first, 1).otherwise(0)).cast("bigint").alias("o2"),
    )
    n1, n2 = (r := halves.agg(F.sum("o1"), F.sum("o2")).first())[0], r[1]
    cells = halves.select(
        "source", "o1", "o2",
        F.abs(F.col("o1") * F.lit(n2) - F.col("o2") * F.lit(n1)).alias("dev"),
    )
    per_source = cells.select(
        "source",
        F.col("o1").alias("n_first"),
        F.col("o2").alias("n_second"),
        F.expr(f"({TVD_SCALE} * dev) div ({n1} * {n2})").cast("bigint").alias("dev_fx"),
    )
    total = cells.agg(
        F.lit("__TOTAL__").alias("source"),
        F.lit(n1).cast("bigint").alias("n_first"),
        F.lit(n2).cast("bigint").alias("n_second"),
        F.expr(f"({TVD_SCALE} * CAST(SUM(dev) AS BIGINT)) div (2 * {n1} * {n2})")
        .cast("bigint")
        .alias("dev_fx"),
    )
    return per_source.unionAll(total)

# --------------------------------------------------------------------------
# Source-concentration audit (mixture diversity of the training corpus)
# --------------------------------------------------------------------------

CONC_SCALE = 10**6


def _conc_oracle() -> str:
    s = CONC_SCALE
    return f"""
    WITH w AS (
        SELECT source, CAST(SUM(n_chars) AS BIGINT) AS cnt
        FROM documents GROUP BY source
    ), tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_sources,
               CAST(SUM(cnt) AS BIGINT) AS total_chars,
               CAST(SUM(cnt * cnt) AS BIGINT) AS sum_sq,
               CAST(MAX(cnt) AS BIGINT) AS max_cnt
        FROM w
    ), pairs AS (
        SELECT CAST(SUM(ABS(a.cnt - b.cnt)) AS BIGINT) AS sum_absdiff
        FROM w a, w b
    )
    SELECT t.n_sources, t.total_chars,
           CAST(({s} * t.sum_sq) // (t.total_chars * t.total_chars) AS BIGINT)
               AS hhi_fx,
           CAST(({s} * t.total_chars * t.total_chars) // t.sum_sq AS BIGINT)
               AS eff_sources_fx,
           CAST(({s} * t.max_cnt) // t.total_chars AS BIGINT) AS max_share_fx,
           CAST(({s} * p.sum_absdiff) // (2 * t.n_sources * t.total_chars) AS BIGINT)
               AS gini_fx
    FROM tot t, pairs p
"""


@declared("q_source_concentration", oracle=_conc_oracle())
def q_source_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture-concentration audit of the corpus source distribution,
    weighted by CHARACTER MASS (the token-budget view — doc counts are
    uniform by construction in this corpus; training cost is not) — the
    one-row scorecard a curation pipeline alarms on before a training run:
    Herfindahl-Hirschman index (Σ share²), effective source count (inverse
    Simpson, 1/Σ share² — "this 20-source corpus behaves like k.x equally
    sized sources"), max single-source share, and the Gini coefficient of
    source char masses. Complements q_mixture_diversity (per-source language
    entropy) with the corpus-level weight-balance view.

    Engine-exactness: every statistic is a ratio of exact BIGINT sums with
    ONE floor at the end — HHI_fx = (S·Σc²)//C², eff = (S·C²)//Σc² (C = total chars),
    Gini via the mean-absolute-difference identity G = ΣΣ|cᵢ−cⱼ| / (2nN)
    over the n×n source-pair cross join (no sort, no rank window — the
    rank-based form would need a global window; the MAD identity is
    order-free and exact).

    Scale notes (100 TB): one map-side-combined sum per source, then all
    arithmetic on an n_sources-row table (n² pairs of a tiny aggregate —
    the cross join is of a 20-row table with itself, broadcast both
    sides). Σc² ≤ C² caps C at 3e9 chars for int64 — a 100 TB corpus
    exceeds that, so compute the three quadratics in DECIMAL(38,0) over
    the same tiny per-source table (the corpus-scan stage is unchanged)."""
    t = load_tables(spark, sf_dir)
    w = t.documents.groupBy("source").agg(
        F.sum("n_chars").cast("bigint").alias("cnt")
    )
    tot = w.agg(
        F.count("*").cast("bigint").alias("n_sources"),
        F.sum("cnt").cast("bigint").alias("total_chars"),
        F.sum(F.col("cnt") * F.col("cnt")).cast("bigint").alias("sum_sq"),
        F.max("cnt").cast("bigint").alias("max_cnt"),
    )
    a = w.select(F.col("cnt").alias("ca"))
    b = w.select(F.col("cnt").alias("cb"))
    pairs = (
        a.crossJoin(b)
        .agg(F.sum(F.abs(F.col("ca") - F.col("cb"))).cast("bigint").alias("sum_absdiff"))
    )
    s = CONC_SCALE
    return tot.crossJoin(pairs).select(
        "n_sources",
        "total_chars",
        F.expr(f"({s} * sum_sq) div (total_chars * total_chars)")
        .cast("bigint")
        .alias("hhi_fx"),
        F.expr(f"({s} * total_chars * total_chars) div sum_sq")
        .cast("bigint")
        .alias("eff_sources_fx"),
        F.expr(f"({s} * max_cnt) div total_chars").cast("bigint").alias("max_share_fx"),
        F.expr(f"({s} * sum_absdiff) div (2 * n_sources * total_chars)")
        .cast("bigint")
        .alias("gini_fx"),
    )

# --------------------------------------------------------------------------
# TextRank keyword extraction (the PageRank primitive reused on text)
# --------------------------------------------------------------------------

TR_MIN_LEN = 4  # stopword proxy: keyword candidates are words of >= 4 chars
TR_TOP = 20

_TEXTRANK_GRAPH_CTE = f"""
    wds AS (
        SELECT doc_id, lower(unnest(string_split(text, ' '))) AS w,
               generate_subscripts(string_split(text, ' '), 1) AS i
        FROM documents
    ), uedges AS (
        SELECT DISTINCT LEAST(a.w, b.w) AS u, GREATEST(a.w, b.w) AS v
        FROM wds a JOIN wds b ON a.doc_id = b.doc_id AND b.i = a.i + 1
        WHERE LEN(a.w) >= {TR_MIN_LEN} AND LEN(b.w) >= {TR_MIN_LEN}
          AND a.w <> b.w
    ), dirn AS (
        SELECT u AS src, v AS dst FROM uedges
        UNION ALL SELECT v, u FROM uedges
    ), deg AS (
        SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg
        FROM dirn GROUP BY src
    ), nn AS (SELECT COUNT(*) AS n FROM deg)
"""

_TEXTRANK_ORACLE = f"""
    WITH {_TEXTRANK_GRAPH_CTE}, {_pr_iter_ctes()}
    SELECT node AS word, pr AS pr_fx
    FROM r{PR_ITERS}
    ORDER BY pr DESC, node
    LIMIT {TR_TOP}
"""


@declared("q_textrank", oracle=_TEXTRANK_ORACLE)
def q_textrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction: PageRank over the word-adjacency graph
    (consecutive words within a document are connected; words shorter than
    {TR_MIN_LEN} chars are dropped as stopword proxies — an integer rule
    both engines state identically). The corpus-level keyword list a
    tagging/topic pipeline derives before training. Reuses the exact
    integer pagerank_ranks core on a STRING-keyed graph — the iteration
    primitive is key-type-agnostic, which is the point of factoring it.

    Engine-exactness: identical to q_pagerank (floor division everywhere,
    oracle replays the same unrolled CTEs over the word graph); edge
    canonicalization via LEAST/GREATEST on ASCII-binary string order
    (both engines compare bytewise on this all-ASCII corpus — the
    invariant tests/test_round6_ops.py pins for the multimodal oracles).

    Scale notes (100 TB): the adjacency self-join is per-document
    (co-partitioned on doc_id) and emits word pairs, which dedup into a
    vocabulary-bounded edge list — corpus size drives only the DISTINCT's
    map-side combine; the PR iterations then run on the vocab graph
    (edges ≤ vocab², shuffle keyed on words, skew from hub words handled
    by AQE as in q_skew_salted)."""
    t = load_tables(spark, sf_dir)
    wds = t.documents.select(
        "doc_id", F.posexplode(F.split(F.lower("text"), " ")).alias("i", "w")
    ).filter(F.length("w") >= TR_MIN_LEN)
    a = wds.select("doc_id", F.col("i").alias("ia"), F.col("w").alias("wa"))
    b = wds.select("doc_id", F.col("i").alias("ib"), F.col("w").alias("wb"))
    edges = (
        a.join(b, ["doc_id"])
        .filter((F.col("ib") == F.col("ia") + 1) & (F.col("wa") != F.col("wb")))
        .select(
            F.least("wa", "wb").alias("u"), F.greatest("wa", "wb").alias("v")
        )
        .distinct()
        .persist()  # referenced 2x/iteration by the PR loop; released by
        # plans/cachereg.release_caches between queries (the day1 graph idiom)
    )
    nparts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    dirn = (
        edges.select(F.col("u").alias("src"), F.col("v").alias("dst"))
        .unionAll(edges.select(F.col("v").alias("src"), F.col("u").alias("dst")))
        .repartition(nparts, "src")
        .persist()  # src-partitioned ONCE: each PR round's edge join
        # reuses the partitioning (the day1_directed_edges idiom on the
        # word graph); released by release_caches
    )
    deg = dirn.groupBy(F.col("src").alias("node")).agg(
        F.count("*").cast("bigint").alias("deg")
    ).persist()
    r = pagerank_ranks(dirn, deg, deg.count())
    return (
        r.orderBy(F.col("pr").desc(), "node")
        .limit(TR_TOP)
        .select(F.col("node").alias("word"), F.col("pr").alias("pr_fx"))
    )

# --------------------------------------------------------------------------
# Differential-privacy prep: contribution bounding / sensitivity audit
# --------------------------------------------------------------------------

DP_CLIP_Q = 0.9
DP_SCALE = 10**6


def _dp_oracle() -> str:
    s = DP_SCALE
    return f"""
    WITH cells AS (
        SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ), per_user AS (
        SELECT user_id, CAST(SUM(c) AS BIGINT) AS tot,
               CAST(COUNT(*) AS BIGINT) AS ntypes,
               CAST(MAX(c) AS BIGINT) AS cellmax
        FROM cells GROUP BY user_id
    ), thr AS (
        SELECT CAST(PERCENTILE_DISC({DP_CLIP_Q}) WITHIN GROUP (ORDER BY tot)
                    AS BIGINT) AS clip_c
        FROM per_user
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(MAX(ntypes) AS BIGINT) AS l0_max,
           CAST(MAX(cellmax) AS BIGINT) AS linf_max,
           CAST(MAX(tot) AS BIGINT) AS l1_max,
           t.clip_c,
           CAST(SUM(CASE WHEN tot > t.clip_c THEN 1 ELSE 0 END) AS BIGINT)
               AS n_clipped_users,
           CAST(SUM(tot) AS BIGINT) AS raw_total,
           CAST(SUM(LEAST(tot, t.clip_c)) AS BIGINT) AS clipped_total,
           CAST(({s} * (SUM(tot) - SUM(LEAST(tot, t.clip_c)))) // SUM(tot)
                AS BIGINT) AS clip_loss_fx
    FROM per_user, thr t
    GROUP BY t.clip_c
"""


@declared("q_dp_sensitivity", oracle=_dp_oracle())
def q_dp_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differential-privacy release prep for the per-event-type count
    histogram: the contribution-bounding audit that fixes the noise scale.
    L0 (max event types any user touches), L∞ (max single-cell count),
    L1 (max total events per user) are the sensitivities of the unclipped
    release; the clip threshold C = p90 of per-user totals (exact
    PERCENTILE_DISC — a data element, no interpolation) and the clipped
    mass quantify the bias a C-clamp buys. The noise draw itself is a
    trivial downstream step; bounding contributions over 100 TB of events
    is the engine's job (the metadata complement: q_k_anonymity).

    Engine-exactness: integer counts, MIN/MAX/LEAST, one fixed-point floor
    for the loss ratio. GROUP BY t.clip_c keeps the oracle a plain
    aggregate (1 row both engines).

    Scale notes (100 TB): two map-side-combined aggregates (cells keyed
    (user, type), then per-user), one rank-global percentile over the
    per-user table (1 bigint/user crosses the exchange; swap in
    approx_percentile at extreme user counts — the q_len_quantile_approx
    precedent), then a broadcast of the 1-row threshold into a single
    global aggregate."""
    t = load_tables(spark, sf_dir)
    cells = t.events.groupBy("user_id", "event_type").agg(
        F.count("*").cast("bigint").alias("c")
    )
    per_user = cells.groupBy("user_id").agg(
        F.sum("c").cast("bigint").alias("tot"),
        F.count("*").cast("bigint").alias("ntypes"),
        F.max("c").cast("bigint").alias("cellmax"),
    )
    thr = per_user.agg(
        F.expr(
            f"CAST(percentile_disc({DP_CLIP_Q}) WITHIN GROUP (ORDER BY tot) AS BIGINT)"
        ).alias("clip_c")
    )
    return (
        per_user.crossJoin(F.broadcast(thr))
        .groupBy("clip_c")
        .agg(
            F.count("*").cast("bigint").alias("n_users"),
            F.max("ntypes").cast("bigint").alias("l0_max"),
            F.max("cellmax").cast("bigint").alias("linf_max"),
            F.max("tot").cast("bigint").alias("l1_max"),
            F.sum(F.when(F.col("tot") > F.col("clip_c"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_clipped_users"),
            F.sum("tot").cast("bigint").alias("raw_total"),
            F.sum(F.least("tot", "clip_c")).cast("bigint").alias("clipped_total"),
            F.expr(
                f"CAST(({DP_SCALE} * (SUM(tot) - SUM(LEAST(tot, clip_c)))) div SUM(tot) AS BIGINT)"
            ).alias("clip_loss_fx"),
        )
        .select(
            "n_users", "l0_max", "linf_max", "l1_max", "clip_c",
            "n_clipped_users", "raw_total", "clipped_total", "clip_loss_fx",
        )
    )

# --------------------------------------------------------------------------
# BPE vocabulary induction (3 unrolled merge rounds)
# --------------------------------------------------------------------------

BPE_MERGES = 3


def _bpe_seq_ctes() -> list[str]:
    """The wf/s0/e{i}/p{i}/best{i}/s{i} CTE chain shared by the q_bpe_merges
    oracle and the q_bpe_apply oracle (round8.py)."""
    ctes = ["""wf AS (
        SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS freq
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        GROUP BY w
    ), s0 AS (
        SELECT word, freq, array_to_string(string_split(word, ''), ' ') AS seq
        FROM wf
    )"""]
    for i in range(1, BPE_MERGES + 1):
        ctes.append(f"""e{i} AS (
        SELECT string_split(seq, ' ') AS ss, freq,
               generate_subscripts(string_split(seq, ' '), 1) AS i
        FROM s{i - 1}
    ), p{i} AS (
        SELECT ss[i] AS a, ss[i + 1] AS b, CAST(SUM(freq) AS BIGINT) AS cnt
        FROM e{i} WHERE i < len(ss) GROUP BY 1, 2
    ), best{i} AS (
        SELECT a, b, cnt FROM p{i} ORDER BY cnt DESC, a, b LIMIT 1
    ), s{i} AS (
        SELECT word, freq,
               trim(replace(replace(' ' || s.seq || ' ',
                                    ' ' || b.a || ' ' || b.b || ' ',
                                    ' ' || b.a || b.b || ' '),
                            ' ' || b.a || ' ' || b.b || ' ',
                            ' ' || b.a || b.b || ' ')) AS seq
        FROM s{i - 1} s, best{i} b
    )""")
    return ctes


def _bpe_oracle() -> str:
    stats = []
    for i in range(1, BPE_MERGES + 1):
        stats.append(f"""
    SELECT {i} AS merge_rank, b.a AS sym_a, b.b AS sym_b, b.cnt AS pair_count,
           CAST(SUM(freq * LEN(string_split(seq, ' '))) AS BIGINT)
               AS n_tokens_after,
           (SELECT CAST(COUNT(DISTINCT sym) AS BIGINT)
            FROM (SELECT unnest(string_split(seq, ' ')) AS sym FROM s{i}) u)
               AS vocab_after
    FROM s{i}, best{i} b GROUP BY 1, 2, 3, 4""")
    return "WITH " + ", ".join(_bpe_seq_ctes()) + " UNION ALL ".join(stats)


@declared("q_bpe_merges", oracle=_bpe_oracle())
def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE vocabulary induction, the tokenizer-training op run over the
    whole corpus before any model sees a token: {BPE_MERGES} unrolled
    merge rounds over the word-frequency table. Each round counts adjacent
    symbol pairs weighted by word frequency, picks the argmax pair under
    the (count DESC, sym_a, sym_b) total order, and applies the merge to
    every word's symbol sequence. Output: one row per learned merge with
    its pair count, the post-merge corpus token count (the compression the
    merge buys), and the symbol-vocabulary size.

    Engine-exactness: integer pair counts; the merge application is
    replace() on the space-delimited symbol string, applied TWICE — both
    engines' replace (and Python's str.replace, which the pytest recompute
    uses) share the non-overlapping left-to-right scan contract, and the
    second pass catches the occurrences whose shared delimiter the first
    pass consumed (' a a a a ' -> ' aa a a ' -> ' aa aa '), making the
    result the standard greedy pairwise merge for runs up to length 5 —
    beyond that a longer fixpoint would be needed; the pytest pins
    equality with true greedy BPE on this corpus's actual words.

    Scale notes (100 TB): everything after wf runs on the DISTINCT-word
    table (vocabulary-sized, corpus size only drives wf's map-side
    combine) — exactly why production BPE trainers stream counts into a
    word-frequency table first. Per round: one pair-count aggregate, one
    1-row TakeOrdered argmax broadcast back, one narrow map. The
    per-round seq table is persisted (released via
    plans/cachereg.release_caches) so round i+1 does not replay round i's
    replace chain."""
    _, outs = bpe_learned_seqs(load_tables(spark, sf_dir).documents)
    res = outs[0]
    for o in outs[1:]:
        res = res.unionAll(o)
    return res


def bpe_learned_seqs(documents: DataFrame) -> tuple[DataFrame, list[DataFrame]]:
    """The q_bpe_merges training loop, factored so q_bpe_apply can reuse
    the LEARNED segmentation: returns (final word->seq table after
    BPE_MERGES rounds, per-round stat frames). Plan identical to the
    previous inline form — the factoring moves code, not operators."""
    wf = (
        documents.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").cast("bigint").alias("freq"))
    )
    s = wf.select(
        "word", "freq", F.array_join(F.split("word", ""), " ").alias("seq")
    ).persist()
    outs = []
    for i in range(1, BPE_MERGES + 1):
        pairs = (
            s.select("freq", F.split("seq", " ").alias("ss"))
            .filter(F.size("ss") >= 2)  # sequence(1, 0) would be DESCENDING
            .select(
                "freq",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(ss) - 1),"
                        " j -> struct(ss[j - 1] AS a, ss[j] AS b))"
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("freq").cast("bigint").alias("cnt"))
        )
        best = pairs.orderBy(F.col("cnt").desc(), "a", "b").limit(1)
        s = (
            s.crossJoin(F.broadcast(best))
            .select(
                "word",
                "freq",
                "a",
                "b",
                "cnt",
                F.expr(
                    "trim(replace(replace(concat(' ', seq, ' '),"
                    " concat(' ', a, ' ', b, ' '), concat(' ', a, b, ' ')),"
                    " concat(' ', a, ' ', b, ' '), concat(' ', a, b, ' ')))"
                ).alias("seq"),
            )
            .persist()
        )
        toks = s.agg(
            F.lit(i).alias("merge_rank"),
            F.first("a").alias("sym_a"),
            F.first("b").alias("sym_b"),
            F.first("cnt").alias("pair_count"),
            F.sum(F.col("freq") * F.size(F.split("seq", " ")))
            .cast("bigint")
            .alias("n_tokens_after"),
        )
        vocab = (
            s.select(F.explode(F.split("seq", " ")).alias("sym"))
            .agg(F.countDistinct("sym").cast("bigint").alias("vocab_after"))
        )
        outs.append(toks.crossJoin(vocab))
        s = s.drop("a", "b", "cnt")
    return s, outs

# --------------------------------------------------------------------------
# Dialog assembly (ordered string aggregation — the SFT-data flattening op)
# --------------------------------------------------------------------------

_DIALOG_ORACLE = """
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_turns,
           string_agg(event_type || ':' || CAST(ROUND(value * 100) AS BIGINT),
                      '|' ORDER BY ts, event_id) AS dialog
    FROM events WHERE ts < TIMESTAMP '2024-01-02 00:00:00'
    GROUP BY user_id
"""


@declared("q_dialog_assembly", oracle=_DIALOG_ORACLE)
def q_dialog_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dialog/trajectory assembly: flatten each user's day-1 event stream
    into ONE ordered turn string — the conversation-construction step an
    SFT/agent-trace pipeline runs to turn interaction logs into training
    sequences. This is ordered string aggregation (ANSI LISTAGG ... WITHIN
    GROUP): DuckDB states it as string_agg(expr, sep ORDER BY ...); Spark
    has no ordered agg, so the engine states it as the composition
    array_join(transform(array_sort(collect_list(struct(ord..., payload)))))
    — array_sort on structs orders by fields left-to-right, giving the
    identical (ts, event_id) total order.

    Engine-exactness: the order key is (ts, event_id) with event_id unique,
    so the sort is a total order; the turn payload quantizes value to
    cents via ROUND(value*100) to BIGINT — one IEEE multiply+round on the
    same double in both engines (the fx-quantization house pattern);
    timestamps never appear in the payload.

    Scale notes (100 TB): one shuffle keyed on user_id with map-side
    collect_list partials; per-group state is the user's own turn list —
    bounded by per-user activity, the same contract as
    q_stream_attribution's state. Whole-day dialogs for heavy users are
    capped naturally by the day-1 filter (pushed to the parquet scan);
    production would add a per-user turn cap (slice after array_sort) to
    bound pathological actors."""
    t = load_tables(spark, sf_dir)
    tok = F.concat(
        F.col("event_type"),
        F.lit(":"),
        F.round(F.col("value") * 100).cast("bigint").cast("string"),
    )
    return (
        t.events.filter(F.col("ts") < F.expr("TIMESTAMP '2024-01-02 00:00:00'"))
        .select("user_id", F.struct("ts", "event_id", tok.alias("tok")).alias("turn"))
        .groupBy("user_id")
        .agg(
            F.count("*").cast("bigint").alias("n_turns"),
            F.array_join(
                F.expr("transform(array_sort(collect_list(turn)), x -> x.tok)"), "|"
            ).alias("dialog"),
        )
    )

# --------------------------------------------------------------------------
# Span-corruption target construction (T5-style pretraining objective prep)
# --------------------------------------------------------------------------

SPAN_PERIOD = 20  # one masked span every 20 words...
SPAN_LEN = 3  # ...of 3 words, phase-shifted per doc by doc_id % 20

_SPAN_ORACLE = f"""
    WITH w AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS word,
               generate_subscripts(string_split(text, ' '), 1) - 1 AS i,
               doc_id % {SPAN_PERIOD} AS r
        FROM documents
    ), m AS (
        SELECT doc_id, word, i,
               (i - r + {2 * SPAN_PERIOD}) % {SPAN_PERIOD} AS md,
               (i - r + {2 * SPAN_PERIOD}) // {SPAN_PERIOD} - 2 AS j
        FROM w
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(CASE WHEN md < {SPAN_LEN} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_masked,
           COALESCE(string_agg(
               CASE WHEN md = 0 THEN '<X_' || j || '>'
                    WHEN md < {SPAN_LEN} THEN NULL ELSE word END,
               ' ' ORDER BY i), '') AS input,
           COALESCE(string_agg(
               CASE WHEN md = 0 THEN '<X_' || j || '> ' || word
                    WHEN md < {SPAN_LEN} THEN word END,
               ' ' ORDER BY i), '') AS target
    FROM m GROUP BY doc_id
"""


@declared("q_span_corruption", oracle=_SPAN_ORACLE)
def q_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-corruption objective construction (the T5/UL2 pretraining data
    transform): every document gets one {SPAN_LEN}-word span masked per
    {SPAN_PERIOD} words, phase-shifted by doc_id so the corpus-level mask
    position distribution is uniform; the input swaps each span for a
    <X_j> sentinel and the target lists sentinels with their recovered
    words. This is the map a 100 TB pretraining pipeline runs LAST, after
    dedup/filter/pack — and it has to be deterministic to be resumable,
    which is why the span choice is arithmetic on (doc_id, word index),
    not an RNG draw.

    Engine-exactness: span membership md = (i - r + {2 * SPAN_PERIOD}) %
    {SPAN_PERIOD} on non-negative operands (Spark % == DuckDB % there);
    sentinel ordinal via floor division of the same shifted index; the
    two output strings are ordered aggregations under the total order i —
    DuckDB string_agg(.. ORDER BY i) vs Spark's
    array_join(transform(filter(array_sort(collect_list(struct(i, tok))))))
    (the q_dialog_assembly composition), with COALESCE('') covering docs
    shorter than their phase (string_agg of all-NULL is NULL, an empty
    array_join is '').

    Scale notes (100 TB): one narrow explode + one shuffle keyed on
    doc_id whose per-group state is the document's own token list (the
    same bound as the text itself); at production scale fuse the
    per-doc transform into ONE pass with transform() over the split array
    (no explode/regroup at all) — the explode+ordered-agg form is used
    here because it is the shape the SQL oracle can state; both plans are
    a single map over the corpus."""
    t = load_tables(spark, sf_dir)
    w = t.documents.select(
        "doc_id",
        (F.col("doc_id") % SPAN_PERIOD).alias("r"),
        F.posexplode(F.split("text", " ")).alias("i", "word"),
    )
    md = (F.col("i") - F.col("r") + 2 * SPAN_PERIOD) % SPAN_PERIOD
    j = F.expr(f"(i - r + {2 * SPAN_PERIOD}) div {SPAN_PERIOD} - 2")
    sent = F.concat(F.lit("<X_"), j.cast("string"), F.lit(">"))
    tok_in = (
        F.when(md == 0, sent)
        .when(md < SPAN_LEN, F.lit(None))
        .otherwise(F.col("word"))
    )
    tok_tg = (
        F.when(md == 0, F.concat(sent, F.lit(" "), F.col("word")))
        .when(md < SPAN_LEN, F.col("word"))
    )

    def ordered_join(tok_col, name):
        return F.array_join(
            F.expr(
                f"transform(filter(array_sort(collect_list(struct(i, {name}))),"
                f" x -> x.{name} IS NOT NULL), x -> x.{name})"
            ),
            " ",
        )

    return (
        w.select(
            "doc_id", "i",
            tok_in.alias("tin"), tok_tg.alias("ttg"),
            (md < SPAN_LEN).cast("int").alias("is_masked"),
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_words"),
            F.sum("is_masked").cast("bigint").alias("n_masked"),
            ordered_join(tok_in, "tin").alias("input"),
            ordered_join(tok_tg, "ttg").alias("target"),
        )
    )

# --------------------------------------------------------------------------
# Preference-pair mining (RLHF/DPO training-pair construction)
# --------------------------------------------------------------------------

_PREF_ORACLE = """
    WITH ev AS (
        SELECT user_id, event_id, event_type,
               CAST(ROUND(value * 100) AS BIGINT) AS cents
        FROM events WHERE ts < TIMESTAMP '2024-01-02 00:00:00'
    ), ranked AS (
        SELECT user_id, event_id, event_type, cents,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY cents DESC, event_id DESC) AS rn_hi,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY cents ASC, event_id ASC) AS rn_lo,
               COUNT(*) OVER (PARTITION BY user_id) AS n_candidates
        FROM ev
    )
    SELECT h.user_id,
           h.event_id AS chosen_id, h.event_type AS chosen_type,
           h.cents AS chosen_cents,
           l.event_id AS rejected_id, l.event_type AS rejected_type,
           l.cents AS rejected_cents,
           h.cents - l.cents AS margin_cents,
           CAST(h.n_candidates AS BIGINT) AS n_candidates
    FROM ranked h JOIN ranked l
      ON h.user_id = l.user_id AND h.rn_hi = 1 AND l.rn_lo = 1
     AND h.event_id <> l.event_id
"""


@declared("q_preference_pairs", oracle=_PREF_ORACLE)
def q_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair mining for RLHF/DPO: per user, the highest-valued
    day-1 interaction (chosen) against the lowest-valued (rejected) with
    the value margin — the (prompt, chosen, rejected) construction step of
    a preference-training pipeline, run over interaction logs. Users with
    a single event produce no pair (a pair needs two distinct responses).

    Engine-exactness: values quantize to integer cents once (the
    q_dialog_assembly ROUND(value*100) pattern); chosen/rejected are
    argmax/argmin under the (cents, event_id) total order — Spark
    max_by/min_by over structs vs the oracle's twin ROW_NUMBERs, identical
    tiebreaks (DESC DESC / ASC ASC); the margin is an integer difference.

    Scale notes (100 TB): ONE map-side-combined aggregate per user (max_by
    and min_by partials merge associatively) — no window, no sort, 2
    struct accumulators per user in flight; the oracle's ROW_NUMBER form
    is stated for SQL clarity, the Spark plan never ranks. Day-1 filter
    pushes to the scan."""
    t = load_tables(spark, sf_dir)
    ev = t.events.filter(F.col("ts") < F.expr("TIMESTAMP '2024-01-02 00:00:00'")).select(
        "user_id", "event_id", "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    payload = F.struct("event_id", "event_type", "cents")
    agg = ev.groupBy("user_id").agg(
        F.max_by(payload, F.struct("cents", "event_id")).alias("hi"),
        F.min_by(payload, F.struct("cents", "event_id")).alias("lo"),
        F.count("*").cast("bigint").alias("n_candidates"),
    )
    return agg.filter(F.col("hi.event_id") != F.col("lo.event_id")).select(
        "user_id",
        F.col("hi.event_id").alias("chosen_id"),
        F.col("hi.event_type").alias("chosen_type"),
        F.col("hi.cents").alias("chosen_cents"),
        F.col("lo.event_id").alias("rejected_id"),
        F.col("lo.event_type").alias("rejected_type"),
        F.col("lo.cents").alias("rejected_cents"),
        (F.col("hi.cents") - F.col("lo.cents")).alias("margin_cents"),
        "n_candidates",
    )

# --------------------------------------------------------------------------
# Largest-remainder apportionment (exact-budget mixture quotas)
# --------------------------------------------------------------------------

APPORTION_BUDGET = 1000


def _lr_alloc_sql(key: str, carry: str, budget: int) -> str:
    """Oracle suffix for largest-remainder allocation: expects a CTE named
    ``w`` with columns (key, carry..., weight) where ``weight`` is a BIGINT;
    emits tot/q/d/r CTE bodies + the final SELECT. Shared by q_apportion
    and q_neyman_alloc so both replay the identical pair-count rank."""
    cl = f"{key}, {carry}" if carry else key
    return f"""tot AS (SELECT CAST(SUM(weight) AS BIGINT) AS c FROM w),
    q AS (
        SELECT {cl}, weight,
               ({budget} * weight) // t.c AS floor_q,
               ({budget} * weight) % t.c AS rem
        FROM w, tot t
    ), d AS (
        SELECT CAST({budget} - SUM(floor_q) AS BIGINT) AS deficit FROM q
    ), r AS (
        SELECT {", ".join("a." + c for c in cl.split(", "))}, a.weight,
               a.floor_q, a.rem,
               CAST(1 + COUNT(CASE WHEN b.rem > a.rem
                                     OR (b.rem = a.rem AND b.{key} < a.{key})
                                   THEN 1 END) AS BIGINT) AS rnk
        FROM q a LEFT JOIN q b ON b.{key} <> a.{key}
        GROUP BY {", ".join("a." + c for c in cl.split(", "))}, a.weight,
                 a.floor_q, a.rem
    )
    SELECT {cl}, weight, CAST(floor_q AS BIGINT) AS floor_q,
           CAST(rem AS BIGINT) AS rem, rnk,
           CAST(floor_q + CASE WHEN rnk <= d.deficit THEN 1 ELSE 0 END
                AS BIGINT) AS final_q
    FROM r, d
"""


def largest_remainder_alloc(w: DataFrame, key: str, budget: int) -> DataFrame:
    """Hamilton largest-remainder allocation of ``budget`` integer slots
    over the rows of ``w`` (columns: key, carry..., ``weight`` BIGINT).
    Floor quotas + the deficit handed to the largest remainders under the
    (rem DESC, key ASC) total order, ranked WITHOUT a window (pair-count
    theta-join over the tiny weight table — the global-window ledger stays
    exact). Returns w's columns + floor_q/rem/rnk/final_q; Σ final_q ==
    budget exactly."""
    carry = list(w.columns)
    tot = w.agg(F.sum("weight").cast("bigint").alias("c"))
    q = (
        w.crossJoin(F.broadcast(tot))
        .select(
            *carry,
            F.expr(f"({budget} * weight) div c").alias("floor_q"),
            F.expr(f"({budget} * weight) % c").alias("rem"),
        )
        .persist()
    )
    deficit = q.agg(
        (F.lit(budget) - F.sum("floor_q")).cast("bigint").alias("deficit")
    )
    other = q.select(F.col(key).alias("o_key"), F.col("rem").alias("o_rem"))
    r = (
        q.join(F.broadcast(other), F.col("o_key") != F.col(key), "left")
        .groupBy(*carry, "floor_q", "rem")
        .agg(
            (
                F.lit(1)
                + F.count(
                    F.when(
                        (F.col("o_rem") > F.col("rem"))
                        | (
                            (F.col("o_rem") == F.col("rem"))
                            & (F.col("o_key") < F.col(key))
                        ),
                        1,
                    )
                )
            )
            .cast("bigint")
            .alias("rnk")
        )
    )
    return r.crossJoin(F.broadcast(deficit)).select(
        *carry,
        F.col("floor_q").cast("bigint").alias("floor_q"),
        F.col("rem").cast("bigint").alias("rem"),
        "rnk",
        (
            F.col("floor_q")
            + F.when(F.col("rnk") <= F.col("deficit"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("final_q"),
    )


def _apportion_oracle() -> str:
    return f"""
    WITH w AS (
        SELECT source, CAST(SUM(n_chars) AS BIGINT) AS weight
        FROM documents GROUP BY source
    ), {_lr_alloc_sql("source", "", APPORTION_BUDGET)}
"""


@declared("q_apportion", oracle=_apportion_oracle())
def q_apportion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder (Hamilton) apportionment of an EXACT training
    budget of {APPORTION_BUDGET} slots across sources by character mass —
    the quota step a mixture sampler runs after weights are chosen:
    floor quotas under-fill the budget by up to n_sources-1 slots (the
    q_temperature_mix targets have exactly that gap), so the deficit is
    handed to the largest fractional remainders; Σ final_q == budget
    EXACTLY (pinned by pytest).

    Engine-exactness: quotas and remainders are integer floor-div/mod of
    BIGINT products; the remainder rank is computed WITHOUT a window — a
    pair-count theta-join over the n_sources-row table under the
    (rem DESC, source ASC) total order — so the Spark plan adds no
    partition-less WindowExec (the global-window ledger stays exact); the
    oracle replays the identical pair count.

    Scale notes (100 TB): everything below the per-source aggregate runs
    on the 20-row weight table (the n² pair join is 400 rows, broadcast);
    {APPORTION_BUDGET}·weight needs weight ≤ 9e15 for int64 — a char budget
    at 100 TB exceeds that, so divide masses by a common 10^k first (the
    apportionment is invariant) or lift the 40-row arithmetic to
    DECIMAL(38,0)."""
    t = load_tables(spark, sf_dir)
    w = t.documents.groupBy("source").agg(
        F.sum("n_chars").cast("bigint").alias("weight")
    ).persist()
    return largest_remainder_alloc(w, "source", APPORTION_BUDGET)


# --------------------------------------------------------------------------
# Fill-in-middle transform (code-model pretraining objective prep)
# --------------------------------------------------------------------------

FIM_PHASES = 7  # cut-point phase = doc_id % 7, de-correlates cuts from length

_FIM_ORACLE = f"""
    WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS ws,
               CAST(LEN(string_split(text, ' ')) AS BIGINT) AS n,
               doc_id % {FIM_PHASES} AS r
        FROM documents
    ), cuts AS (
        SELECT doc_id, ws, n,
               LEAST((n + r) // 3, n) AS c1,
               LEAST(GREATEST((2 * n + r) // 3, LEAST((n + r) // 3, n)), n) AS c2
        FROM w
    )
    SELECT doc_id, n AS n_words, CAST(c1 AS BIGINT) AS c1, CAST(c2 AS BIGINT) AS c2,
           CAST(c2 - c1 AS BIGINT) AS middle_len,
           '<PRE> ' || array_to_string(list_slice(ws, 1, c1), ' ') ||
           ' <SUF> ' || array_to_string(list_slice(ws, c2 + 1, n), ' ') ||
           ' <MID> ' || array_to_string(list_slice(ws, c1 + 1, c2), ' ') AS psm
    FROM cuts
"""


@declared("q_fim_transform", oracle=_FIM_ORACLE)
def q_fim_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-in-middle transform (the code-model pretraining objective,
    PSM order): each document splits at two deterministic word cuts into
    prefix/middle/suffix and re-serializes as
    '<PRE> prefix <SUF> suffix <MID> middle' — the model learns to infill
    the middle given both sides. Cut points are arithmetic on
    (doc_id, n_words) with a doc_id % {FIM_PHASES} phase (resumable and
    shardable, the q_span_corruption determinism contract), clamped so
    0 <= c1 <= c2 <= n holds for any length.

    Engine-exactness: cuts are integer floor division + LEAST/GREATEST;
    the three segments are array slices — Spark slice(arr, start, len) ==
    DuckDB list_slice(arr, start, end) under the verified edge contract
    (empty for zero-length and past-end starts, both engines); no explode,
    no regroup, no window.

    Scale notes (100 TB): a single narrow map over the corpus (ONE
    projection; the split array never leaves the row) — the cheapest
    possible shape; composes with q_pack downstream. Compare
    q_span_corruption, which pays an explode+regroup only because its
    oracle needs the per-token form."""
    t = load_tables(spark, sf_dir)
    w = t.documents.select(
        "doc_id",
        F.split("text", " ").alias("ws"),
        F.size(F.split("text", " ")).cast("bigint").alias("n"),
        (F.col("doc_id") % FIM_PHASES).alias("r"),
    )
    c1 = F.least(F.expr("(n + r) div 3"), F.col("n"))
    cuts = w.select(
        "doc_id", "ws", "n",
        c1.alias("c1"),
        F.least(F.greatest(F.expr("(2 * n + r) div 3"), c1), F.col("n")).alias("c2"),
    )
    return cuts.select(
        "doc_id",
        F.col("n").alias("n_words"),
        F.col("c1").cast("bigint").alias("c1"),
        F.col("c2").cast("bigint").alias("c2"),
        (F.col("c2") - F.col("c1")).cast("bigint").alias("middle_len"),
        F.concat(
            F.lit("<PRE> "),
            F.array_join(F.expr("slice(ws, 1, CAST(c1 AS INT))"), " "),
            F.lit(" <SUF> "),
            F.array_join(F.expr("slice(ws, CAST(c2 + 1 AS INT), CAST(n - c2 AS INT))"), " "),
            F.lit(" <MID> "),
            F.array_join(F.expr("slice(ws, CAST(c1 + 1 AS INT), CAST(c2 - c1 AS INT))"), " "),
        ).alias("psm"),
    )

# --------------------------------------------------------------------------
# Neyman stratified-sample allocation (variance-proportional quotas)
# --------------------------------------------------------------------------

NEYMAN_BUDGET = 500
NEYMAN_W_SCALE = 1000


def _neyman_oracle() -> str:
    return f"""
    WITH m AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sx,
               CAST(SUM(n_chars * n_chars) AS BIGINT) AS sxx
        FROM documents GROUP BY lang
    ), w AS (
        SELECT lang, n_docs,
               n_docs * sxx - sx * sx AS v_num,
               CAST(ROUND(SQRT(CAST(n_docs * sxx - sx * sx AS DOUBLE))
                          * {NEYMAN_W_SCALE}) AS BIGINT) AS weight
        FROM m
    ), {_lr_alloc_sql("lang", "n_docs, v_num", NEYMAN_BUDGET)}
"""


@declared("q_neyman_alloc", oracle=_neyman_oracle())
def q_neyman_alloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman allocation of a {NEYMAN_BUDGET}-sample audit budget across
    language strata: optimal stratified sampling draws n_h ∝ N_h·σ_h, and
    N_h·σ_h == sqrt(N_h·Σx² − (Σx)²) exactly — so the weight is the sqrt
    of an exact integer variance numerator, no mean subtraction, no
    per-row float. The quota step reuses largest_remainder_alloc, so the
    final integer quotas fill the budget EXACTLY (the q_apportion
    contract) — this is the sample-size plan a QC pipeline computes before
    drawing its audit sample with q_mix_sample/q_split.

    Engine-exactness: the variance numerator is pure BIGINT moments
    (exact-sum formula, the q_velocity_anomaly precedent); sqrt is the one
    IEEE-exact transcendental (q_temperature_mix precedent), applied to an
    identical integer in both engines, scaled and rounded once to a BIGINT
    weight; allocation is then the shared integer pair-count-rank path.

    Scale notes (100 TB): one map-side-combined moments aggregate over the
    corpus; allocation on the languages-sized table. Σx² needs
    n_chars²·N ≤ 9e18 — at 1e12 docs of 1e4 chars it overflows int64, so
    compute the three moments in DECIMAL(38,0) there (scan unchanged)."""
    t = load_tables(spark, sf_dir)
    m = t.documents.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("sx"),
        F.sum(F.col("n_chars") * F.col("n_chars")).cast("bigint").alias("sxx"),
    )
    w = m.select(
        "lang",
        "n_docs",
        F.expr("n_docs * sxx - sx * sx").alias("v_num"),
        F.round(
            F.sqrt(F.expr("CAST(n_docs * sxx - sx * sx AS DOUBLE)"))
            * NEYMAN_W_SCALE
        )
        .cast("bigint")
        .alias("weight"),
    ).persist()
    return largest_remainder_alloc(w, "lang", NEYMAN_BUDGET)

# --------------------------------------------------------------------------
# Group-relative advantage (GRPO/RLOO reward normalization)
# --------------------------------------------------------------------------

ADV_SCALE = 10**6


def _grpo_oracle() -> str:
    s = ADV_SCALE
    return f"""
    WITH ev AS (
        SELECT event_id, event_type,
               CAST(ROUND(value * 100) AS BIGINT) AS cents
        FROM events WHERE ts < TIMESTAMP '2024-01-02 00:00:00'
    ), g AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(cents) AS BIGINT) AS sr,
               CAST(SUM(cents * cents) AS BIGINT) AS srr
        FROM ev GROUP BY event_type
    )
    SELECT e.event_id, e.event_type, e.cents, g.n,
           CAST(({s} * e.cents * g.n - {s} * g.sr) // g.n AS BIGINT)
               AS centered_fx,
           CASE WHEN g.n * g.srr - g.sr * g.sr > 0 THEN
               CAST(ROUND(CAST({s} * (g.n * e.cents - g.sr) AS DOUBLE)
                          / SQRT(CAST(g.n * g.srr - g.sr * g.sr AS DOUBLE)))
                    AS BIGINT)
           ELSE 0 END AS adv_fx
    FROM ev e JOIN g ON g.event_type = e.event_type
"""


@declared("q_grpo_advantage", oracle=_grpo_oracle())
def q_grpo_advantage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-relative advantage computation (the GRPO/RLOO post-training
    step): each day-1 interaction's reward is normalized against its
    prompt group's (event_type's) mean and std — adv = (r − mean)/std,
    computed as (n·r − Σr)/sqrt(n·Σr² − (Σr)²), which needs only the three
    integer group moments and never materializes a float mean. Degenerate
    groups (zero variance) get advantage 0, the GRPO convention.

    Engine-exactness: rewards quantize once to cents; the centered value
    is pure integer fixed point (its numerator goes NEGATIVE below the
    group mean — safe because Spark's `div` and DuckDB's integer `//`
    BOTH truncate toward zero, pinned by the recompute pytest; the
    "non-negative operands only" house rule is the conservative contract
    for engines where `//` floors); the advantage is the
    single-op chain int-exact-numerator → CAST double → ÷ sqrt(int-exact
    variance numerator) → ROUND, every step correctly rounded on identical
    operands in both engines (the q_neyman_alloc sqrt + q_quality
    division precedents).

    Scale notes (100 TB): one map-side-combined moments aggregate, then a
    broadcast join of the tiny group table back onto the event stream —
    per-row arithmetic only, no window, no second shuffle of the facts
    (the classic two-pass normalization; a prompt group in real RLHF is
    the per-prompt rollout set, thousands of groups — still a broadcast)."""
    t = load_tables(spark, sf_dir)
    s = ADV_SCALE
    ev = t.events.filter(
        F.col("ts") < F.expr("TIMESTAMP '2024-01-02 00:00:00'")
    ).select(
        "event_id", "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    g = ev.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("sr"),
        F.sum(F.col("cents") * F.col("cents")).cast("bigint").alias("srr"),
    )
    j = ev.join(F.broadcast(g), "event_type")
    v_num = F.expr("n * srr - sr * sr")
    return j.select(
        "event_id", "event_type", "cents", "n",
        F.expr(f"({s} * cents * n - {s} * sr) div n").cast("bigint").alias(
            "centered_fx"
        ),
        F.when(
            v_num > 0,
            F.round(
                F.expr(f"CAST({s} * (n * cents - sr) AS DOUBLE)")
                / F.sqrt(v_num.cast("double"))
            ).cast("bigint"),
        )
        .otherwise(F.lit(0))
        .alias("adv_fx"),
    )
