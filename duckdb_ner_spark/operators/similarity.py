"""Similarity search over embedding columns (SURVEY.md §2.D D3).

- brute-force cosine top-k (baseline, exact)   → q_sim_topk
- all-pairs cosine above threshold (exploded)  → used by q_dedup_embed
- LSH-bucketed ANN (random hyperplanes)        → q_sim_ann (hash, fx-banded)
- IVF probe (stride seeds, fx routing)         → q_sim_ivf (hash, as of r6)
- fixed-point unit vectors shared by the vector oracles: unit_fx_expr and
  its DuckDB twin U_CTE

Scale notes (100 TB):
- top-k against a QUERY vector is a broadcast: the query rides into every
  partition as a literal; one pass, no shuffle, TakeOrdered for the k.
- all-pairs is quadratic by nature — production path is the hyperplane-LSH
  bucketing below (cands only within a bucket), or block-matrix multiply
  (group vectors into row/col blocks, BLAS per block pair via pandas UDF).
- signed random projections are seeded deterministically → reproducible
  buckets across runs/executors.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.registry import declared
from ..sources.catalog import load_tables
from .caps import sql_capped_bucket_ctes


def _explode_embeddings(df: DataFrame) -> DataFrame:
    """(vec_id, embedding) → (vec_id, i, x double) — position-exploded form.

    posexplode keeps Spark's 0-based positions; +1 matches DuckDB's
    generate_subscripts for oracle replay."""
    return df.select(
        "vec_id", F.posexplode("embedding").alias("i0", "xf")
    ).select("vec_id", (F.col("i0") + 1).alias("i"), F.col("xf").cast("double").alias("x"))


def cosine_pairs_exploded(df: DataFrame, threshold: float) -> DataFrame:
    """All-pairs cosine ≥ threshold via the exploded self-join (exact)."""
    # partitioning inherited from the source scan (catalog floor locally;
    # natural splits at scale)
    ex = _explode_embeddings(df).persist()
    norms = ex.groupBy("vec_id").agg(F.sqrt(F.sum(F.col("x") * F.col("x"))).alias("nrm"))
    a = ex.select(F.col("vec_id").alias("vec_a"), "i", F.col("x").alias("xa"))
    b = ex.select(F.col("vec_id").alias("vec_b"), "i", F.col("x").alias("xb"))
    dots = (
        a.join(b, "i")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .groupBy("vec_a", "vec_b")
        .agg(F.sum(F.col("xa") * F.col("xb")).alias("dot"))
    )
    na = norms.select(F.col("vec_id").alias("vec_a"), F.col("nrm").alias("na"))
    nb = norms.select(F.col("vec_id").alias("vec_b"), F.col("nrm").alias("nb"))
    cos = F.col("dot") / (F.col("na") * F.col("nb"))
    return (
        dots.join(na, "vec_a")
        .join(nb, "vec_b")
        .filter(cos >= threshold)
        .select("vec_a", "vec_b", F.round(cos, 6).alias("cosine"))
    )


def topk_cosine(df: DataFrame, query_vec: list[float], k: int, id_col: str = "vec_id") -> DataFrame:
    """Exact top-k cosine neighbors of a literal query vector.

    The dot product runs JVM-side via zip_with + aggregate (whole-stage
    codegen, no Python); the query vector is a broadcast literal."""
    q = [float(v) for v in query_vec]
    qn = float(np.sqrt(sum(v * v for v in q)))
    qlit = F.array(*[F.lit(v) for v in q])
    emb_d = F.expr("transform(embedding, v -> CAST(v AS DOUBLE))")
    dot = F.aggregate(
        F.zip_with(emb_d, qlit, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    nrm = F.sqrt(F.aggregate(F.zip_with(emb_d, emb_d, lambda x, y: x * y), F.lit(0.0), lambda a, v: a + v))
    cos = dot / (nrm * F.lit(qn))
    return (
        df.select(id_col, F.round(cos, 6).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


# --- LSH-bucketed ANN (scale path) -----------------------------------------

N_PLANES = 12
_SEED = 0x5EED


def _hyperplanes(dim: int) -> np.ndarray:
    rng = np.random.RandomState(_SEED)
    return rng.randn(N_PLANES, dim)


def lsh_bucket_ids(df: DataFrame, dim: int, id_col: str = "vec_id") -> DataFrame:
    """Signed-random-projection bucket per vector: bit p = sign(v · h_p).

    The planes are deterministic literals compiled into the plan (a few KB) —
    the Spark-idiomatic equivalent of broadcasting the projection matrix."""
    planes = _hyperplanes(dim)
    emb_d = F.expr("transform(embedding, v -> CAST(v AS DOUBLE))")
    bucket = F.lit(0).cast("bigint")
    for p in range(N_PLANES):
        plane = F.array(*[F.lit(float(v)) for v in planes[p]])
        dot = F.aggregate(F.zip_with(emb_d, plane, lambda x, y: x * y), F.lit(0.0), lambda a, v: a + v)
        bucket = bucket + F.when(dot > 0, F.lit(1 << p).cast("bigint")).otherwise(0)
    return df.select(id_col, "embedding", bucket.alias("bucket"))


def ann_pairs(df: DataFrame, dim: int, threshold: float, id_col: str = "vec_id") -> DataFrame:
    """Approximate near pairs: exact cosine only within an LSH bucket."""
    bucketed = lsh_bucket_ids(df, dim, id_col).persist()  # both join sides
    a = bucketed.select(F.col(id_col).alias("vec_a"), F.col("embedding").alias("ea"), "bucket")
    b = bucketed.select(F.col(id_col).alias("vec_b"), F.col("embedding").alias("eb"), "bucket")
    pairs = a.join(b, "bucket").filter(F.col("vec_a") < F.col("vec_b"))
    da = F.expr("transform(ea, v -> CAST(v AS DOUBLE))")
    db = F.expr("transform(eb, v -> CAST(v AS DOUBLE))")
    dot = F.aggregate(F.zip_with(da, db, lambda x, y: x * y), F.lit(0.0), lambda a_, v: a_ + v)
    na = F.sqrt(F.aggregate(F.zip_with(da, da, lambda x, y: x * y), F.lit(0.0), lambda a_, v: a_ + v))
    nb = F.sqrt(F.aggregate(F.zip_with(db, db, lambda x, y: x * y), F.lit(0.0), lambda a_, v: a_ + v))
    cos = dot / (na * nb)
    return pairs.select("vec_a", "vec_b", F.round(cos, 6).alias("cosine")).filter(
        F.col("cosine") >= threshold
    )


# --- Fixed-point banded hyperplane LSH (oracle-replayable scale path) -------
#
# The q_dedup_embed contract needs BOTH of:
#   (a) no all-pairs join anywhere in the plan (100 TB viability), and
#   (b) an exact DuckDB replay (hash-match oracle).
# Float hyperplane dots can't give (b): SUM over doubles is order-sensitive
# and the two engines fold in different orders, so a dot near zero could
# bucket differently. Fix: quantize BOTH the embedding values and the plane
# coefficients to integers (×1e6) — integer sums are associative, so the
# bucket bits are bit-identical in any evaluation order, in any engine. The
# plane coefficients are deterministic literals compiled into the Spark plan
# AND inlined into the oracle SQL from the same numpy array.

FX_SCALE = 1_000_000
N_FX_PLANES = 12
FX_BANDS = 4  # 3 planes per band: P[cand | cos=.45] ≈ 1-(1-.6487³)⁴ ≈ .72

# Hot-bucket guard for the (band, sig) candidate self-joins (ADVICE r6 #1):
# with 3-bit band signatures a degenerate corpus of near-identical
# embeddings lands in ONE bucket per band and the self-join goes quadratic,
# exactly like the dedup.py template-cluster pathology. Same remedy — each
# bucket keeps its SIM_BUCKET_CAP smallest ids via the bounded-state
# two-level salted min-k (caps.py), replayed bit-for-bit by the oracles.
# 256 (vs dedup's 64): embedding buckets are legitimately denser (8 sigs
# per band), and pairs are verified with one integer dot, not a shingle
# Jaccard — a bigger cap costs O(cap²) cheap verifies, not memory.
SIM_BUCKET_CAP = 256


def _fx_planes(dim: int) -> np.ndarray:
    """Gaussian hyperplanes quantized to int64 (×FX_SCALE), fixed seed."""
    rng = np.random.RandomState(_SEED ^ 0x51AE)
    return np.rint(rng.randn(N_FX_PLANES, dim) * FX_SCALE).astype(np.int64)


def fx_band_sigs(df: DataFrame, dim: int) -> DataFrame:
    """(vec_id, embedding) → (vec_id, band, sig): banded signed-random-projection
    signatures over fixed-point arithmetic.

    One projection pass per row, all JVM-side (zip_with/aggregate folds in
    whole-stage codegen); the only shuffle downstream is the (band, sig)
    bucket join — same shape as MinHash-LSH banding (dedup.py)."""
    planes = _fx_planes(dim)
    per_band = N_FX_PLANES // FX_BANDS
    xi = F.expr(
        f"transform(embedding, v -> CAST(ROUND(CAST(v AS DOUBLE) * {FX_SCALE}, 0) AS BIGINT))"
    )
    w = df.select(F.col("vec_id"), xi.alias("__xi__"))
    bits = []
    for p in range(N_FX_PLANES):
        pl = F.array(*[F.lit(int(v)) for v in planes[p]])
        dot = F.aggregate(
            F.zip_with(F.col("__xi__"), pl, lambda x, y: x * y),
            F.lit(0).cast("bigint"),
            lambda a, v: a + v,
        )
        bits.append(F.when(dot > 0, F.lit(1)).otherwise(F.lit(0)))
    band_sigs = [
        sum(bits[b * per_band + r] * F.lit(1 << (per_band - 1 - r)) for r in range(per_band))
        for b in range(FX_BANDS)
    ]
    return w.select(
        F.col("vec_id"), F.posexplode(F.array(*band_sigs)).alias("band", "sig")
    )


def lsh_cosine_pairs(df: DataFrame, dim: int, threshold: float) -> DataFrame:
    """Near-dup (vec_a, vec_b, cosine) pairs of (vec_id, embedding) rows via
    banded hyperplane LSH: candidates only within a (band, sig) bucket,
    each bucket capped at its SIM_BUCKET_CAP smallest
    ids (bounded-state two-level min-k, caps.py — ADVICE r6 #1), exact
    cosine verify on the candidates. No all-pairs join anywhere — candidate
    volume is cap-bounded even on a degenerate corpus, verify joins
    broadcast the (tiny) candidate list so the vector table never
    reshuffles. Candidates come from each bucket's capped id ARRAY
    (bucket_array_pairs) rather than a bucket self-join — identical pair
    set, but the banding+cap aggregation chain is evaluated once instead of
    once per join side (r13)."""
    from .caps import bucket_array_pairs, capped_bucket_id_arrays

    buckets = capped_bucket_id_arrays(fx_band_sigs(df, dim), "vec_id", SIM_BUCKET_CAP)
    cands = bucket_array_pairs(buckets, "vec_a", "vec_b")
    dd = F.expr("transform(embedding, v -> CAST(v AS DOUBLE))")
    # per-vector norms computed ONCE on the vector side of the verify joins
    # (not per candidate pair): same left-to-right double accumulation over
    # the same array ⇒ bit-identical values, ~3x less per-pair lambda work
    # (the q_sim_ann prenorm measurement)
    n1 = F.sqrt(
        F.aggregate(F.zip_with(dd, dd, lambda x, y: x * y), F.lit(0.0), lambda a_, v: a_ + v)
    )
    ea = df.select(F.col("vec_id").alias("vec_a"), dd.alias("da"), n1.alias("na"))
    eb = df.select(F.col("vec_id").alias("vec_b"), dd.alias("db"), n1.alias("nb"))
    dot = F.aggregate(
        F.zip_with("da", "db", lambda x, y: x * y), F.lit(0.0), lambda a_, v: a_ + v
    )
    cos = dot / (F.col("na") * F.col("nb"))
    return (
        F.broadcast(cands)
        .join(ea, "vec_a")
        .join(eb, "vec_b")
        .select("vec_a", "vec_b", F.round(cos, 6).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def _fx_banding_cte(dim: int) -> str:
    """The shared oracle prefix replaying fx_band_sigs + the candidate
    bucket join: planes VALUES table, quantized ex/exq, per-plane bits,
    banded sigs, the SIM_BUCKET_CAP hot-bucket min-k (two-level salted,
    caps.py — ADVICE r6 #1), and the (band, sig) candidate pairs — ONE
    definition so a plane/band/quantization/cap change lands in every
    oracle that replays the banding (fx_lsh_oracle_sql and
    _sim_ann_oracle; r6 self-review)."""
    planes = _fx_planes(dim)
    per_band = N_FX_PLANES // FX_BANDS
    values = ",".join(
        f"({p},{i + 1},{int(planes[p, i])})"
        for p in range(N_FX_PLANES)
        for i in range(dim)
    )
    sig_weight = " ".join(
        f"WHEN {r} THEN {1 << (per_band - 1 - r)}" for r in range(per_band)
    )
    return f"""planes(p, i, h) AS (VALUES {values}),
    ex AS (
        SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings
    ), exq AS (
        SELECT vec_id, i, CAST(ROUND(x * {FX_SCALE}) AS BIGINT) AS xi FROM ex
    ), bits AS (
        SELECT q.vec_id, pl.p,
               CASE WHEN SUM(q.xi * pl.h) > 0 THEN 1 ELSE 0 END AS bit
        FROM exq q JOIN planes pl ON q.i = pl.i
        GROUP BY q.vec_id, pl.p
    ), sigs AS (
        SELECT vec_id, p // {per_band} AS band,
               SUM(bit * CASE p % {per_band} {sig_weight} END) AS sig
        FROM bits GROUP BY vec_id, p // {per_band}
    ), {sql_capped_bucket_ctes("sigs", "vec_id", SIM_BUCKET_CAP)}, cands AS (
        SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM capped a JOIN capped b
          ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id
    )"""


def fx_lsh_oracle_sql(dim: int, threshold: float) -> str:
    """DuckDB twin of lsh_cosine_pairs: the shared banding replay
    (_fx_banding_cte), then the same double-precision cosine verify
    rounded to 6dp."""
    return f"""
    WITH {_fx_banding_cte(dim)}, dots AS (
        SELECT c.vec_a, c.vec_b, SUM(ea.x * eb.x) AS dot
        FROM cands c
        JOIN ex ea ON ea.vec_id = c.vec_a
        JOIN ex eb ON eb.vec_id = c.vec_b AND eb.i = ea.i
        GROUP BY 1, 2
    ), norms AS (
        SELECT vec_id, SQRT(SUM(x * x)) AS nrm FROM ex GROUP BY vec_id
    )
    SELECT vec_a, vec_b, ROUND(dot / (na.nrm * nb.nrm), 6) AS cosine
    FROM dots
    JOIN norms na ON na.vec_id = vec_a
    JOIN norms nb ON nb.vec_id = vec_b
    WHERE dot / (na.nrm * nb.nrm) >= {threshold}
    """


# ---------------------------------------------------------------------------
# declared queries
# ---------------------------------------------------------------------------


@declared(
    "q_sim_topk",
    oracle="""
    WITH ex AS (
        SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings
    ), q AS (
        SELECT i, x AS qx FROM ex WHERE vec_id = 0
    ), qn AS (
        SELECT SQRT(SUM(qx * qx)) AS qnrm FROM q
    ), scored AS (
        SELECT e.vec_id,
               SUM(e.x * q.qx) AS dot,
               SQRT(SUM(e.x * e.x)) AS nrm
        FROM ex e JOIN q ON e.i = q.i
        GROUP BY e.vec_id
    )
    SELECT vec_id, ROUND(dot / (nrm * (SELECT qnrm FROM qn)), 6) AS cosine
    FROM scored
    WHERE vec_id <> 0
    ORDER BY cosine DESC, vec_id
    LIMIT 5
    """,
)
def q_sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 cosine neighbors of vec_id 0 (exact brute force, D3 baseline)."""
    t = load_tables(spark, sf_dir)
    emb = t.embeddings
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    return topk_cosine(emb.filter(F.col("vec_id") != 0), list(qvec), k=5)


# --- IVF (inverted-file) ANN: the centroid-bucketed scale path -------------

N_IVF_CELLS = 10  # default k for centroid training (≈ sqrt(n) at test SFs)
N_IVF_ITERS = 2  # Lloyd iterations — recall plateaus fast for IVF routing


def _unit_expr() -> "F.Column":
    """L2-normalized copy of the embedding column, linear in dim: the norm
    is evaluated ONCE per row (array_repeat materializes it before the
    zip_with), never re-inlined per element — the CollapseProject trap that
    bit shingles_expr in r3 (a scalar expr referenced inside a transform
    lambda gets inlined per element access)."""
    da = F.expr("transform(embedding, v -> CAST(v AS DOUBLE))")
    nrm = F.sqrt(
        F.aggregate(F.zip_with(da, da, lambda x, y: x * y), F.lit(0.0), lambda a, v: a + v)
    )
    return F.zip_with(
        da, F.array_repeat(nrm, F.size("embedding")), lambda x, n: x / n
    )


def _l2_normalize(vec: list[float]) -> list[float]:
    import math

    n = math.sqrt(sum(v * v for v in vec))
    return [v / n for v in vec] if n > 0 else list(vec)


def train_ivf_centroids(
    df: DataFrame, k: int = N_IVF_CELLS, n_iter: int = N_IVF_ITERS,
    id_col: str = "vec_id",
) -> list[list[float]]:
    """Deterministic SPHERICAL Lloyd k-means over the embedding column:
    vectors are L2-normalized before seeding and mean-updates, and every
    updated centroid is re-normalized to the unit sphere. The index scores
    candidates by COSINE (topk_cosine), so the routing metric must be cosine
    too — plain L2 k-means on unnormalized vectors puts a low-norm vector's
    cosine neighbors in L2-distant cells and recall collapses for exactly
    those queries (caught by test_ivf_topk_recall_at_5_across_slices: one
    query had recall 0/5 even probing 8 of 10 cells).

    Distribution shape (the part that must survive 100 TB): each iteration is
    (1) assign — a broadcast of the k×dim centroid matrix joined against the
    vectors, no shuffle of the vectors themselves; (2) update — posexplode to
    (cell, dim, x) and a map-side-combined SUM/COUNT per (cell, dim), so the
    shuffle carries at most k·dim·n_partitions combiner rows, never raw
    vectors. The driver receives and re-broadcasts only the k×dim centroid
    matrix per iteration — O(k·dim) traffic, the legitimate scalar-sized
    driver exchange (same class as a collected query vector).

    Determinism: seeds are the k lowest-id vectors spread by stride, update
    sums are fixed-order folds per (cell, dim); no RNG anywhere.
    """
    spark = df.sparkSession
    n = df.count()
    k = max(1, min(k, n))
    stride = max(1, n // k)
    seeds = (
        df.filter(F.col(id_col) % stride == 0)
        .orderBy(id_col)
        .limit(k)
        .select("embedding")
        .collect()
    )
    cents = [_l2_normalize([float(v) for v in r[0]]) for r in seeds]
    for _ in range(n_iter):
        assigned = ivf_assign(df, id_col=id_col, centroids=cents)
        stats = (
            assigned.select(
                "cent_id",
                F.posexplode(_unit_expr()).alias("i", "x"),
            )
            .groupBy("cent_id", "i")
            .agg(F.sum("x").alias("s"), F.count("*").alias("cnt"))
            .collect()  # k·dim rows — the O(k·dim) driver exchange
        )
        new_cents = [list(c) for c in cents]  # empty cells keep their centroid
        per_cell: dict[int, list] = {}
        for r in stats:
            per_cell.setdefault(r.cent_id, []).append(r)
        for cid, rows in per_cell.items():
            vec = new_cents[cid]
            for r in rows:
                vec[r.i] = r.s / r.cnt
            new_cents[cid] = _l2_normalize(vec)  # spherical: re-project
        cents = new_cents
    return cents


def _centroids_df(spark, cents: list[list[float]]) -> DataFrame:
    return spark.createDataFrame(
        [(i, c) for i, c in enumerate(cents)],
        "cent_id INT, cent_emb ARRAY<DOUBLE>",
    )


def ivf_assign(
    df: DataFrame, id_col: str = "vec_id",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """Assign each vector to its nearest centroid on the unit sphere: the
    vector is L2-normalized and scored by argmax of dot(x̂,c) − ‖c‖²/2
    (min squared-L2 between unit points ≡ max cosine — the same metric
    topk_cosine ranks by, so probe and index agree for cosine retrieval).

    ``centroids`` is the trained k×dim matrix (train_ivf_centroids); at
    production scale training runs once offline and the matrix is broadcast
    exactly like this join."""
    spark = df.sparkSession
    if centroids is None:
        centroids = train_ivf_centroids(df, id_col=id_col)
    cents = _centroids_df(spark, centroids).withColumn(
        "cent_sqnorm",
        F.aggregate(
            F.zip_with("cent_emb", "cent_emb", lambda x, y: x * y),
            F.lit(0.0),
            lambda a, v: a + v,
        ),
    )
    da = _unit_expr()
    dot = F.aggregate(
        F.zip_with(da, F.col("cent_emb"), lambda x, y: x * y), F.lit(0.0), lambda a, v: a + v
    )
    scored = df.crossJoin(F.broadcast(cents)).select(
        id_col,
        "embedding",
        "cent_id",
        (dot - F.col("cent_sqnorm") / F.lit(2.0)).alias("score"),
    )
    # per-row argmax without a window shuffle: max_by over the k broadcast
    # copies, grouped by the vector id (map-side combinable)
    return (
        scored.groupBy(id_col)
        .agg(
            F.first("embedding").alias("embedding"),
            F.max_by(
                "cent_id", F.struct(F.col("score"), (-F.col("cent_id")).alias("tb"))
            ).alias("cent_id"),
        )
        .select(id_col, "embedding", "cent_id")
    )


def ivf_topk(df: DataFrame, query_vec: list[float], k: int, n_probe: int = 2,
             id_col: str = "vec_id") -> DataFrame:
    """ANN top-k: score only vectors in the query's n_probe nearest cells
    (same min-L2 routing metric as assignment — probe and index agree).

    At 100 TB the assignment table is written once, partitioned by cent_id
    (partition pruning turns the probe into a targeted scan)."""
    cents = train_ivf_centroids(df, id_col=id_col)
    assigned = ivf_assign(df, id_col=id_col, centroids=cents)
    q = [float(v) for v in query_vec]
    # route the NORMALIZED query on the driver: k×dim floats, same
    # unit-sphere math as the executors (assignment normalizes too)
    qn = _l2_normalize(q)
    scores = [
        (sum(x * c for x, c in zip(qn, cv)) - sum(c * c for c in cv) / 2.0, cid)
        for cid, cv in enumerate(cents)
    ]
    probe_ids = [cid for _, cid in sorted(scores, key=lambda t: (-t[0], t[1]))[:n_probe]]
    shortlist = assigned.filter(F.col("cent_id").isin(probe_ids))
    return topk_cosine(shortlist.select(id_col, "embedding"), q, k, id_col)


@declared(
    "q_embed_join",
    oracle="""
    WITH ex AS (
        SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings
    ), norms AS (
        SELECT vec_id, SQRT(SUM(x * x)) AS nrm FROM ex GROUP BY vec_id
    )
    SELECT d.lang,
           COUNT(*) AS n_docs,
           ROUND(AVG(n.nrm), 6) AS avg_norm,
           ROUND(MIN(n.nrm), 6) AS min_norm,
           ROUND(MAX(n.nrm), 6) AS max_norm
    FROM documents d JOIN norms n ON d.doc_id = n.vec_id
    GROUP BY d.lang
    """,
)
def q_embed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal join: documents ⋈ embeddings on id, vector-norm stats per
    language. Norm is a per-row deterministic fold (aggregate over the
    array); AVG divides identical doubles by identical counts.

    Note the rounding question: per-row norms are bit-identical (same fold
    order both engines — ascending positions), so ROUND(AVG) is safe at 6dp
    only because AVG of ≤hundreds of values keeps error ≪ 5e-7."""
    t = load_tables(spark, sf_dir)
    emb_d = F.expr("transform(embedding, v -> CAST(v AS DOUBLE))")
    nrm = F.sqrt(
        F.aggregate(F.zip_with(emb_d, emb_d, lambda x, y: x * y), F.lit(0.0), lambda a, v: a + v)
    )
    norms = t.embeddings.select(F.col("vec_id"), nrm.alias("nrm"))
    return (
        t.documents.join(norms, F.col("doc_id") == F.col("vec_id"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("nrm"), 6).alias("avg_norm"),
            F.round(F.min("nrm"), 6).alias("min_norm"),
            F.round(F.max("nrm"), 6).alias("max_norm"),
        )
    )


IVF_TOPK = 5
IVF_NPROBE = 2
ANN_RECALL_K = 10
ANN_QUERY_VEC = 0


def unit_fx_expr() -> "F.Column":
    """Per-row L2-normalized embedding quantized to 1e6 fixed point
    (BIGINT), GENUINELY order-independent (ADVICE r6 #2): each element is
    quantized to an integer FIRST (round(x·1e6) — per-element, no
    aggregation), the squared norm is a SUM of integer squares (associative
    in any combine order, any engine), and the only double arithmetic is
    sqrt of that one integer plus the final per-element division — so the
    oracle's grouped SUM over unnested rows can combine per-thread partials
    in any order without an ulp ever reaching the rounded output. The r6
    form summed double squares before sqrt, leaving a theoretical
    order-dependence at an exact .5 quantization boundary. Norm
    materialized via array_repeat (the CollapseProject trap — see
    _unit_expr)."""
    qa = F.expr(
        f"transform(embedding, v -> CAST(ROUND(CAST(v AS DOUBLE) * {FX_SCALE}, 0) AS BIGINT))"
    )
    nrm = F.sqrt(
        F.aggregate(
            F.zip_with(qa, qa, lambda x, y: x * y),
            F.lit(0).cast("bigint"),
            lambda a, v: a + v,
        ).cast("double")
    )
    return F.zip_with(
        qa,
        F.array_repeat(nrm, F.size("embedding")),
        lambda x, n: F.round(x.cast("double") / n * FX_SCALE).cast("bigint"),
    )


# DuckDB twin of unit_fx_expr, shared by the vector oracles (the q_sim_ivf
# precedent, _sim_ivf_oracle below): per-element quantize FIRST, integer squared
# norm, one sqrt, one rounded division — order-independent in any combine
# order. i is 1-based in DuckDB (generate_subscripts).
U_CTE = f"""
    ex AS (
        SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings
    ), exq0 AS (
        SELECT vec_id, i, CAST(ROUND(x * {FX_SCALE}) AS BIGINT) AS xi0 FROM ex
    ), norms0 AS (
        SELECT vec_id, SQRT(CAST(SUM(xi0 * xi0) AS DOUBLE)) AS nrm
        FROM exq0 GROUP BY vec_id
    ), u AS (
        SELECT e.vec_id, e.i,
               CAST(ROUND(CAST(e.xi0 AS DOUBLE) / n.nrm * {FX_SCALE}) AS BIGINT) AS xi
        FROM exq0 e JOIN norms0 n ON e.vec_id = n.vec_id
    )
"""


def _sim_ivf_oracle() -> str:
    """DuckDB twin of q_sim_ivf: replays stride seeding, fixed-point
    spherical cell assignment (2·dot − ‖c‖², pure integers), 2-cell probe
    routing, and the fixed-point cosine top-k — the whole IVF index probe,
    bit-for-bit."""
    return f"""
    WITH ex AS (
        SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings
    ), exq0 AS (
        SELECT vec_id, i, CAST(ROUND(x * {FX_SCALE}) AS BIGINT) AS xi0 FROM ex
    ), norms0 AS (
        SELECT vec_id, SQRT(CAST(SUM(xi0 * xi0) AS DOUBLE)) AS nrm
        FROM exq0 GROUP BY vec_id
    ), u AS (
        SELECT e.vec_id, e.i,
               CAST(ROUND(CAST(e.xi0 AS DOUBLE) / n.nrm * {FX_SCALE}) AS BIGINT) AS xi
        FROM exq0 e JOIN norms0 n ON e.vec_id = n.vec_id
    ), st AS (
        SELECT GREATEST(1, COUNT(DISTINCT vec_id) // {N_IVF_CELLS}) AS stride
        FROM u
    ), cents AS (
        SELECT vec_id AS cent_vid,
               CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cent_id
        FROM (SELECT DISTINCT vec_id FROM u
              WHERE vec_id % (SELECT stride FROM st) = 0
              ORDER BY vec_id LIMIT {N_IVF_CELLS})
    ), cu AS (
        SELECT c.cent_id, u.i, u.xi FROM u JOIN cents c ON u.vec_id = c.cent_vid
    ), csq AS (
        SELECT cent_id, SUM(xi * xi) AS sq FROM cu GROUP BY cent_id
    ), scores AS (
        SELECT v.vec_id, c.cent_id,
               2 * SUM(v.xi * c.xi) - MAX(q.sq) AS score2
        FROM u v JOIN cu c ON v.i = c.i JOIN csq q ON q.cent_id = c.cent_id
        GROUP BY v.vec_id, c.cent_id
    ), assign AS (
        SELECT vec_id, cent_id FROM (
            SELECT vec_id, cent_id,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY score2 DESC, cent_id) AS rn
            FROM scores
        ) WHERE rn = 1
    ), probe AS (
        SELECT cent_id FROM (
            SELECT cent_id,
                   ROW_NUMBER() OVER (ORDER BY score2 DESC, cent_id) AS rn
            FROM scores WHERE vec_id = {ANN_QUERY_VEC}
        ) WHERE rn <= {IVF_NPROBE}
    ), shortlist AS (
        SELECT a.vec_id FROM assign a JOIN probe p ON a.cent_id = p.cent_id
        WHERE a.vec_id <> {ANN_QUERY_VEC}
    ), dots AS (
        SELECT f.vec_id, SUM(f.xi * q.xi) AS dot
        FROM u f
        JOIN (SELECT i, xi FROM u WHERE vec_id = {ANN_QUERY_VEC}) q ON f.i = q.i
        JOIN shortlist s ON s.vec_id = f.vec_id
        GROUP BY f.vec_id
    ), nfx AS (
        SELECT vec_id, SQRT(CAST(SUM(xi * xi) AS DOUBLE)) AS n
        FROM u GROUP BY vec_id
    )
    SELECT CAST(rank AS INT) AS rank,
           CAST(vec_id AS BIGINT) AS neighbor_id,
           cosine_fx
    FROM (
        SELECT d.vec_id,
               CAST(ROUND(CAST(d.dot AS DOUBLE) / (na.n * nq.n) * {FX_SCALE})
                    AS BIGINT) AS cosine_fx,
               ROW_NUMBER() OVER (
                   ORDER BY CAST(ROUND(CAST(d.dot AS DOUBLE) / (na.n * nq.n)
                                       * {FX_SCALE}) AS BIGINT) DESC,
                            d.vec_id) AS rank
        FROM dots d
        JOIN nfx na ON na.vec_id = d.vec_id
        JOIN nfx nq ON nq.vec_id = {ANN_QUERY_VEC}
    ) WHERE rank <= {IVF_TOPK}
    """


@declared("q_sim_ivf", oracle=_sim_ivf_oracle())
def q_sim_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-{k} for one query vector, HASH-VERIFIED end to end
    (upgraded from rows-only, VERDICT r5 #7): the declared index variant is
    the ENGINE-EXACT IVF — stride-seeded unit-sphere centroids (no Lloyd
    refinement), fixed-point spherical assignment (argmax of the pure-
    integer 2·dot(x̂,c) − ‖c‖² — the same min-L2-on-the-sphere routing
    ivf_assign uses, doubled to stay integral), top-2 cell probe for the
    query, exact fixed-point cosine over the probed shortlist. Every step —
    seeding, assignment, routing, ranking — is integer or
    identical-expression double, so the DuckDB oracle replays the ENTIRE
    index probe bit-for-bit. The Lloyd-trained production path
    (train_ivf_centroids/ivf_topk: same structure, refined centroids) keeps
    its recall pytests (tests/test_components.py) — refinement changes
    which cells exist, not the probe mechanics verified here.

    Scale notes (100 TB): centroids are a k-row broadcast; assignment is a
    narrow map over vectors (max_by combiner aggregate, no window); the
    probe reads only 2 cells (partition pruning on a cent_id-partitioned
    layout); top-k is TakeOrdered."""
    t = load_tables(spark, sf_dir)
    emb = t.embeddings
    # persisted: u feeds centroids, assignment, query routing, AND the
    # cosine verify — unpersisted it recomputed the scan + normalize fold
    # 4-5x per invocation (r6 self-review)
    u = emb.select("vec_id", unit_fx_expr().alias("u")).persist()
    n = emb.count()
    stride = max(1, n // N_IVF_CELLS)
    from pyspark.sql.window import Window

    cents = (
        u.filter(F.col("vec_id") % stride == 0)
        .orderBy("vec_id")
        .limit(N_IVF_CELLS)
        .select(
            (F.row_number().over(Window.orderBy("vec_id")) - 1)
            .cast("int")
            .alias("cent_id"),
            F.col("u").alias("c"),
        )
    )
    sq = F.aggregate(
        F.zip_with("c", "c", lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda a, v: a + v,
    )
    cents = cents.select("cent_id", "c", sq.alias("csq"))
    dot_uc = F.aggregate(
        F.zip_with("u", "c", lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda a, v: a + v,
    )
    scored = u.crossJoin(F.broadcast(cents)).select(
        "vec_id", "u", "cent_id", (2 * dot_uc - F.col("csq")).alias("score2")
    )
    assign = scored.groupBy("vec_id").agg(
        F.first("u").alias("u"),
        F.max_by(
            "cent_id", F.struct(F.col("score2"), (-F.col("cent_id")).alias("tb"))
        ).alias("cent_id"),
    )
    probe = (
        scored.filter(F.col("vec_id") == ANN_QUERY_VEC)
        .orderBy(F.col("score2").desc(), "cent_id")
        .limit(IVF_NPROBE)
        .select("cent_id")
    )
    shortlist = assign.join(F.broadcast(probe), "cent_id").filter(
        F.col("vec_id") != ANN_QUERY_VEC
    )
    q = u.filter(F.col("vec_id") == ANN_QUERY_VEC).select(
        F.col("u").alias("qu"),
        F.sqrt(
            F.aggregate(
                F.zip_with("u", "u", lambda x, y: x * y),
                F.lit(0).cast("bigint"),
                lambda a, v: a + v,
            ).cast("double")
        ).alias("qn"),
    )
    na = F.sqrt(
        F.aggregate(
            F.zip_with("u", "u", lambda x, y: x * y),
            F.lit(0).cast("bigint"),
            lambda a, v: a + v,
        ).cast("double")
    )
    dot_q = F.aggregate(
        F.zip_with("u", "qu", lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda a, v: a + v,
    )
    cos_fx = F.round(dot_q.cast("double") / (na * F.col("qn")) * FX_SCALE).cast(
        "bigint"
    )
    ranked = (
        shortlist.crossJoin(F.broadcast(q))
        .select("vec_id", cos_fx.alias("cosine_fx"))
        .orderBy(F.col("cosine_fx").desc(), "vec_id")
        .limit(IVF_TOPK)
    )
    return ranked.select(
        F.row_number()
        .over(Window.orderBy(F.col("cosine_fx").desc(), "vec_id"))
        .cast("int")
        .alias("rank"),
        F.col("vec_id").cast("bigint").alias("neighbor_id"),
        "cosine_fx",
    )


def _sim_ann_oracle() -> str:
    """DuckDB twin of q_sim_ann: the shared banding replay
    (_fx_banding_cte) with a fixed-point cosine output (ROUND to integer —
    the safe class) and an integer threshold."""
    return f"""
    WITH {_fx_banding_cte(64)}, dots AS (
        SELECT c.vec_a, c.vec_b, SUM(ea.xi * eb.xi) AS dot
        FROM cands c
        JOIN exq ea ON ea.vec_id = c.vec_a
        JOIN exq eb ON eb.vec_id = c.vec_b AND eb.i = ea.i
        GROUP BY 1, 2
    ), nfx AS (
        SELECT vec_id, SQRT(CAST(SUM(xi * xi) AS DOUBLE)) AS n
        FROM exq GROUP BY vec_id
    )
    SELECT vec_a, vec_b, cosine_fx FROM (
        SELECT d.vec_a, d.vec_b,
               CAST(ROUND(CAST(d.dot AS DOUBLE) / (na.n * nb.n) * {FX_SCALE})
                    AS BIGINT) AS cosine_fx
        FROM dots d
        JOIN nfx na ON na.vec_id = d.vec_a
        JOIN nfx nb ON nb.vec_id = d.vec_b
    ) WHERE cosine_fx >= 300000
    """


@declared("q_sim_ann", oracle=_sim_ann_oracle())
def q_sim_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN pairs, HASH-VERIFIED (upgraded from rows-only,
    VERDICT r5 #7): banded fixed-point hyperplane signatures (fx_band_sigs
    — integer dots, so bucket bits are evaluation-order-independent and
    engine-exact), candidates only within a (band, sig) bucket, exact
    fixed-point cosine on candidates reported as 1e6-integer cosine_fx with
    an INTEGER threshold (≥ 0.3 ⇒ ≥ 300000) — no ROUND(double, n>0)
    anywhere. The float-plane variant stays as the ann_pairs library op
    (subset-of-bruteforce pytest). Plan: one narrow projection pass per
    vector, one (band, sig) bucket join with the SIM_BUCKET_CAP min-k
    hot-bucket guard (ADVICE r6 #1 — same bounded-state cap as dedup),
    AQE-sized verify joins — no all-pairs join anywhere.

    Scale notes (100 TB): same banded-bucket shape as MinHash-LSH dedup;
    candidate volume is cap-bounded per bucket, so even a degenerate
    corpus of near-identical embeddings sharing a 3-bit band signature
    emits C(cap,2) pairs per band, not quadratic; vectors never reshuffle
    for verify (candidate list joins back to the vector table on id)."""
    t = load_tables(spark, sf_dir)
    emb = t.embeddings
    fx = emb.select(
        "vec_id",
        F.expr(
            f"transform(embedding, v -> CAST(ROUND(CAST(v AS DOUBLE) * {FX_SCALE}, 0) AS BIGINT))"
        ).alias("e"),
    )
    # pairs from each bucket's capped id array — identical set to the old
    # bucket self-join, minus the second evaluation of the cap chain (r13)
    from .caps import bucket_array_pairs, capped_bucket_id_arrays

    cands = bucket_array_pairs(
        capped_bucket_id_arrays(fx_band_sigs(emb, dim=64), "vec_id", SIM_BUCKET_CAP),
        "vec_a",
        "vec_b",
    )
    nrm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(
            F.zip_with(c, c, lambda x, y: x * y),
            F.lit(0).cast("bigint"),
            lambda a_, v: a_ + v,
        ).cast("double")
    )
    # norms are PER-VECTOR: compute them once on the 1-row-per-vector side
    # of the verify joins, not per candidate pair — the pair side then
    # evaluates one zip_with dot instead of three 64-lambda aggregates
    # (measured at sf0.1: 15.7 -> 7.0 s warm, values bit-identical since
    # the per-vector double is the same either way)
    ea = fx.select(
        F.col("vec_id").alias("vec_a"), F.col("e").alias("ea"), nrm("e").alias("na")
    )
    eb = fx.select(
        F.col("vec_id").alias("vec_b"), F.col("e").alias("eb"), nrm("e").alias("nb")
    )
    dot = F.aggregate(
        F.zip_with("ea", "eb", lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda a_, v: a_ + v,
    )
    cos_fx = F.round(
        dot.cast("double") / (F.col("na") * F.col("nb")) * FX_SCALE
    ).cast("bigint")
    return (
        cands.join(ea, "vec_a")
        .join(eb, "vec_b")
        .select("vec_a", "vec_b", cos_fx.alias("cosine_fx"))
        .filter(F.col("cosine_fx") >= 300_000)
    )


# --- int8 scalar quantization (embedding storage compression) --------------

_QUANT_ORACLE = """
    WITH m AS (
        SELECT vec_id,
               LEN(embedding) AS n_dims,
               list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS max_abs
        FROM embeddings
    ), s AS (
        SELECT vec_id, n_dims,
               CASE WHEN max_abs = 0 THEN 0.0 ELSE 127.0 / max_abs END AS scale
        FROM m
    ), q AS (
        SELECT e.vec_id, s.n_dims, s.scale,
               list_transform(e.embedding,
                   x -> CAST(FLOOR(CAST(x AS DOUBLE) * s.scale + 0.5) AS BIGINT)) AS qv
        FROM embeddings e JOIN s ON e.vec_id = s.vec_id
    )
    SELECT vec_id,
           CAST(n_dims AS INT) AS n_dims,
           scale,
           CAST(list_sum(qv) AS BIGINT) AS sum_q,
           CAST(list_min(qv) AS BIGINT) AS min_q,
           CAST(list_max(qv) AS BIGINT) AS max_q
    FROM q
"""


@declared("q_embed_quant", oracle=_QUANT_ORACLE)
def q_embed_quant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8 scalar quantization — the embedding-storage compression
    step (float32 -> int8 = 4x smaller ANN index) a 100 TB vector corpus runs
    before indexing. scale = 127/max|x| per vector; q_i = floor(x*scale + 0.5)
    (explicit half-up — engines disagree on ROUND ties, FLOOR(+0.5) they
    cannot). Everything the oracle compares is either an untouched IEEE
    quotient (scale) or integer aggregates of the quantized values —
    order-free, so the hash match survives any partitioning. Narrow per-row
    transform: zero shuffle at any scale."""
    t = load_tables(spark, sf_dir)
    max_abs = F.array_max(F.expr("transform(embedding, x -> abs(CAST(x AS DOUBLE)))"))
    base = t.embeddings.select(
        "vec_id",
        "embedding",
        F.size("embedding").cast("int").alias("n_dims"),
        F.when(max_abs == 0, F.lit(0.0)).otherwise(F.lit(127.0) / max_abs).alias("scale"),
    )
    qv = F.expr("transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * scale + 0.5) AS BIGINT))")
    quant = base.select("vec_id", "n_dims", "scale", qv.alias("qv"))
    return quant.select(
        "vec_id",
        "n_dims",
        "scale",
        F.aggregate("qv", F.lit(0).cast("bigint"), lambda a, v: a + v).alias("sum_q"),
        F.array_min("qv").cast("bigint").alias("min_q"),
        F.array_max("qv").cast("bigint").alias("max_q"),
    )


# --- k-NN join: top-k neighbors for EACH query in a set (batch retrieval) --

N_KNN_QUERIES = 5  # vec_id < 5 form the query set
KNN_K = 3


_KNN_ORACLE = f"""
    WITH ex AS (
        SELECT vec_id, i,
               CAST(ROUND(CAST(x AS DOUBLE) * {FX_SCALE}) AS BIGINT) AS xi
        FROM (SELECT vec_id, unnest(embedding) AS x,
                     generate_subscripts(embedding, 1) AS i
              FROM embeddings)
    ), q AS (
        SELECT vec_id AS qid, i, xi AS qxi FROM ex WHERE vec_id < {N_KNN_QUERIES}
    ), c AS (
        SELECT vec_id, i, xi FROM ex WHERE vec_id >= {N_KNN_QUERIES}
    ), nrm AS (
        SELECT vec_id, SQRT(CAST(CAST(SUM(xi * xi) AS BIGINT) AS DOUBLE)) AS n
        FROM ex GROUP BY vec_id
    ), scored AS (
        -- int64 dot product: integer addition is associative, so the SUM is
        -- exact in ANY accumulation order — no 1-ulp cross-engine drift
        SELECT q.qid, c.vec_id, CAST(SUM(c.xi * q.qxi) AS BIGINT) AS dot_fx
        FROM c JOIN q ON c.i = q.i
        GROUP BY q.qid, c.vec_id
    ), ranked AS (
        SELECT s.qid, s.vec_id,
               CAST(s.dot_fx AS DOUBLE) / (na.n * nb.n) AS cosine,
               ROW_NUMBER() OVER (PARTITION BY s.qid
                                  ORDER BY CAST(s.dot_fx AS DOUBLE) / (na.n * nb.n) DESC,
                                           s.vec_id) AS rn
        FROM scored s
        JOIN nrm na ON na.vec_id = s.qid
        JOIN nrm nb ON nb.vec_id = s.vec_id
    )
    SELECT qid, vec_id AS neighbor_id, rn AS rank, ROUND(cosine, 6) AS cosine
    FROM ranked WHERE rn <= {KNN_K}
"""


@declared("q_knn_join", oracle=_KNN_ORACLE)
def q_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN JOIN: exact top-k cosine neighbors for EVERY vector in a query
    set (batch retrieval — the shape a RAG/eval pipeline runs, vs
    q_sim_topk's single query). The query side is broadcast (queries ≪
    corpus — the retrieval asymmetry), scoring is one narrow JVM pass over
    the corpus, and per-query ranking shuffles only (n_queries × corpus)
    score rows, never embeddings.

    Determinism (ADVICE r3): components quantize to int64 (×FX_SCALE, the
    q_embed_centroid precedent) so dot products and squared norms are EXACT
    integer sums — associative, identical in any accumulation order on any
    engine. The subsequent double ops (cast, sqrt, multiply, divide) are
    IEEE-identical sequences in both engines, so ranking happens on
    bit-identical cosines; near-tie rank flips from 1-ulp float-sum drift
    (the r2 q_stats2 class) are impossible, and equal cosines fall back to
    the vec_id tiebreak.

    Scale notes (100 TB): with q queries the scored relation is q×N rows of
    three scalars — for large q, swap the final window for a per-partition
    partial top-k (mapInPandas heap) + merge, or route through the IVF index
    (ivf_topk) per query; both keep the corpus unshuffled."""
    t = load_tables(spark, sf_dir)
    emb = t.embeddings
    fx = F.expr(
        f"transform(embedding, v -> CAST(ROUND(CAST(v AS DOUBLE) * {FX_SCALE}, 0) AS BIGINT))"
    )
    nrm_fx = F.sqrt(
        F.aggregate(
            F.zip_with(fx, fx, lambda x, y: x * y), F.lit(0).cast("bigint"), lambda a, v: a + v
        ).cast("double")
    )
    qs = emb.filter(F.col("vec_id") < N_KNN_QUERIES).select(
        F.col("vec_id").alias("qid"),
        fx.alias("qemb"),
        nrm_fx.alias("qnrm"),
    )
    corpus = emb.filter(F.col("vec_id") >= N_KNN_QUERIES).select(
        "vec_id", fx.alias("cemb"), nrm_fx.alias("cnrm")
    )
    dot_fx = F.aggregate(
        F.zip_with("cemb", "qemb", lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda a, v: a + v,
    )
    scored = corpus.crossJoin(F.broadcast(qs)).select(
        "qid",
        "vec_id",
        (dot_fx.cast("double") / (F.col("qnrm") * F.col("cnrm"))).alias("cosine"),
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= KNN_K)
        .select("qid", F.col("vec_id").alias("neighbor_id"), "rank", F.round("cosine", 6).alias("cosine"))
    )


# --- per-group embedding centroids (engine-exact fixed-point group means) --

_CENTROID_ORACLE = f"""
    WITH ex AS (
        SELECT d.lang,
               generate_subscripts(e.embedding, 1) AS i,
               CAST(ROUND(CAST(unnest(e.embedding) AS DOUBLE) * {FX_SCALE}) AS BIGINT) AS xi
        FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
    )
    SELECT lang, CAST(i AS BIGINT) AS i, COUNT(*) AS n,
           ROUND(CAST(SUM(xi) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / {FX_SCALE}.0, 6)
               AS centroid
    FROM ex GROUP BY lang, i
"""


@declared("q_embed_centroid", oracle=_CENTROID_ORACLE)
def q_embed_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language embedding centroid (the class-centroid / domain-profile
    pipeline op), engine-exact: float group means are NOT portable (sum
    order differs between engines), so components quantize to int64
    (×FX_SCALE) first — integer addition is associative, making the group
    sums bit-identical in any fold order on any engine — then divide once.
    Same quantization the FX-LSH path uses (q_dedup_embed precedent).

    Scale notes (100 TB): one narrow quantize+posexplode, then a single
    map-side-combined SUM/COUNT keyed (lang, dim) — shuffle volume is
    |groups|·dim combiner rows, never vectors; the join to documents is the
    id-keyed equi-join, broadcastable when the metadata side is small."""
    t = load_tables(spark, sf_dir)
    xi = F.expr(
        f"transform(embedding, v -> CAST(ROUND(CAST(v AS DOUBLE) * {FX_SCALE}, 0) AS BIGINT))"
    )
    joined = t.embeddings.join(
        t.documents.select("doc_id", "lang"), F.col("vec_id") == F.col("doc_id")
    )
    ex = joined.select("lang", F.posexplode(xi.alias("xi")).alias("i0", "xi")).select(
        "lang", (F.col("i0") + 1).cast("bigint").alias("i"), "xi"
    )
    return ex.groupBy("lang", "i").agg(
        F.count("*").alias("n"),
        F.round(
            F.sum("xi").cast("double") / F.count("*").cast("double") / F.lit(float(FX_SCALE)),
            6,
        ).alias("centroid"),
    )


# --------------------------------------------------------------------------
# ANN recall audit: hyperplane-LSH candidates vs exact top-k, in-plan
# (ANN_RECALL_K / ANN_QUERY_VEC defined with the IVF constants above)
# --------------------------------------------------------------------------


def fx_cosine_to_query(emb: DataFrame, query_vec_id: int) -> DataFrame:
    """(vec_id, cosine) against one query vector in the family's 1e6 fixed
    point: integer dot (order-independent), sqrt norms, one double
    division. The SINGLE definition shared by q_ann_recall and
    retrieval.q_rrf_fusion (r5 review: the expression chain was duplicated
    verbatim — an FX_SCALE or rounding change must land everywhere)."""
    fx = emb.select(
        "vec_id",
        F.expr(
            f"transform(embedding, v -> CAST(ROUND(CAST(v AS DOUBLE) * {FX_SCALE}, 0) AS BIGINT))"
        ).alias("e"),
    )
    nrm = F.sqrt(
        F.aggregate(
            F.zip_with("e", "e", lambda x, y: x * y),
            F.lit(0).cast("bigint"),
            lambda a, v: a + v,
        ).cast("double")
    )
    q = fx.filter(F.col("vec_id") == query_vec_id).select(
        F.col("e").alias("qe"), nrm.alias("qn")
    )
    return (
        fx.filter(F.col("vec_id") != query_vec_id)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            (
                F.aggregate(
                    F.zip_with("e", "qe", lambda x, y: x * y),
                    F.lit(0).cast("bigint"),
                    lambda a, v: a + v,
                ).cast("double")
                / (nrm * F.col("qn"))
            ).alias("cosine"),
        )
    )


def _ann_recall_oracle() -> str:
    """DuckDB twin: replays the fixed-point banded bucketing (same integer
    plane literals as fx_band_sigs) for the query's candidate set, the
    fixed-point cosine, and both top-k lists."""
    planes = _fx_planes(64)
    per_band = N_FX_PLANES // FX_BANDS
    values = ",".join(
        f"({p},{i + 1},{int(planes[p, i])})"
        for p in range(N_FX_PLANES)
        for i in range(64)
    )
    sig_weight = " ".join(
        f"WHEN {r} THEN {1 << (per_band - 1 - r)}" for r in range(per_band)
    )
    return f"""
    WITH planes(p, i, h) AS (VALUES {values}),
    ex AS (
        SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings
    ), exq AS (
        SELECT vec_id, i, CAST(ROUND(x * {FX_SCALE}) AS BIGINT) AS xi FROM ex
    ), bits AS (
        SELECT q.vec_id, pl.p,
               CASE WHEN SUM(q.xi * pl.h) > 0 THEN 1 ELSE 0 END AS bit
        FROM exq q JOIN planes pl ON q.i = pl.i
        GROUP BY q.vec_id, pl.p
    ), sigs AS (
        SELECT vec_id, p // {per_band} AS band,
               SUM(bit * CASE p % {per_band} {sig_weight} END) AS sig
        FROM bits GROUP BY vec_id, p // {per_band}
    ), cand AS (
        SELECT DISTINCT s.vec_id
        FROM sigs s JOIN sigs q ON s.band = q.band AND s.sig = q.sig
        WHERE q.vec_id = {ANN_QUERY_VEC} AND s.vec_id <> {ANN_QUERY_VEC}
    ), nrm AS (
        SELECT vec_id, SQRT(CAST(SUM(xi * xi) AS DOUBLE)) AS n
        FROM exq GROUP BY vec_id
    ), dots AS (
        SELECT f.vec_id, CAST(SUM(f.xi * q.xi) AS BIGINT) AS dot_fx
        FROM exq f JOIN (SELECT i, xi FROM exq WHERE vec_id = {ANN_QUERY_VEC}) q
          ON f.i = q.i
        WHERE f.vec_id <> {ANN_QUERY_VEC}
        GROUP BY f.vec_id
    ), cos AS (
        SELECT d.vec_id,
               CAST(d.dot_fx AS DOUBLE) / (na.n * nq.n) AS cosine
        FROM dots d
        JOIN nrm na ON na.vec_id = d.vec_id
        JOIN nrm nq ON nq.vec_id = {ANN_QUERY_VEC}
    ), exact_top AS (
        SELECT vec_id FROM (
            SELECT vec_id, ROW_NUMBER() OVER (ORDER BY cosine DESC, vec_id) AS rn
            FROM cos
        ) WHERE rn <= {ANN_RECALL_K}
    ), ann_top AS (
        SELECT vec_id FROM (
            SELECT c.vec_id,
                   ROW_NUMBER() OVER (ORDER BY c.cosine DESC, c.vec_id) AS rn
            FROM cos c JOIN cand ON cand.vec_id = c.vec_id
        ) WHERE rn <= {ANN_RECALL_K}
    )
    SELECT CAST({ANN_RECALL_K} AS BIGINT) AS k,
           CAST((SELECT COUNT(*) FROM cand) AS BIGINT) AS n_candidates,
           CAST((SELECT COUNT(*) FROM ann_top a JOIN exact_top e
                 ON a.vec_id = e.vec_id) AS BIGINT) AS n_hits,
           (SELECT COUNT(*) FROM ann_top a JOIN exact_top e
            ON a.vec_id = e.vec_id) * 1e0 / {ANN_RECALL_K} AS recall
    """


@declared("q_ann_recall", oracle=_ann_recall_oracle())
def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality audit, computed IN-PLAN and hash-verified: recall@k of
    the banded hyperplane-LSH candidate set against the exact cosine top-k
    for a query vector — the number that decides whether an index's
    plane/band configuration ships, measured the way a production evaluation
    harness would (intersection of ranked lists), but with every step
    engine-exact (fixed-point bucketing AND fixed-point cosine), so the
    DuckDB oracle replays the whole audit bit-for-bit. Complements
    q_sim_ann (rows-only) by making the recall claim itself differential.

    Scale notes (100 TB): the query's band signatures broadcast; candidates
    come from the (band, sig) bucket join (index probe, no corpus scan
    beyond the signature pass); both top-k lists are TakeOrdered; the
    recall join touches 2k rows."""
    t = load_tables(spark, sf_dir)
    emb = t.embeddings
    sigs = fx_band_sigs(emb, dim=64)
    qsig = sigs.filter(F.col("vec_id") == ANN_QUERY_VEC).select("band", "sig")
    cand = (
        sigs.join(F.broadcast(qsig), ["band", "sig"])
        .filter(F.col("vec_id") != ANN_QUERY_VEC)
        .select("vec_id")
        .distinct()
    )
    cos = fx_cosine_to_query(emb, ANN_QUERY_VEC)
    exact_top = cos.orderBy(F.col("cosine").desc(), "vec_id").limit(ANN_RECALL_K)
    ann_top = (
        cos.join(F.broadcast(cand), "vec_id")
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(ANN_RECALL_K)
    )
    hits = ann_top.select("vec_id").join(exact_top.select("vec_id"), "vec_id")
    n_cand = cand.agg(F.count("*").cast("bigint").alias("n_candidates"))
    n_hits = hits.agg(F.count("*").cast("bigint").alias("n_hits"))
    return (
        n_cand.crossJoin(F.broadcast(n_hits))
        .select(
            F.lit(ANN_RECALL_K).cast("bigint").alias("k"),
            "n_candidates",
            "n_hits",
            F.expr(f"n_hits * 1e0 / {ANN_RECALL_K}").alias("recall"),
        )
        .select("k", "n_candidates", "n_hits", "recall")
    )


# --------------------------------------------------------------------------
# Per-dimension embedding QC (dead/collapsed-dimension audit)
# --------------------------------------------------------------------------

_EMBED_DIMS_ORACLE = f"""
    WITH ex AS (
        SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings
    ), fx AS (
        SELECT i, CAST(ROUND(x * {FX_SCALE}) AS BIGINT) AS xi FROM ex
    )
    SELECT CAST(i AS BIGINT) AS dim,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(xi) AS BIGINT) AS sum_fx,
           CAST(SUM(xi * xi) AS BIGINT) AS sumsq_fx,
           CAST(SUM(CASE WHEN xi = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
           SUM(xi) * 1e0 / COUNT(*) AS mean_fx,
           (SUM(xi * xi) * 1e0 * COUNT(*) - SUM(xi) * 1e0 * SUM(xi))
               / (COUNT(*) * 1e0 * COUNT(*)) AS var_fx
    FROM fx GROUP BY i
"""


@declared("q_embed_dims", oracle=_EMBED_DIMS_ORACLE)
def q_embed_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding QC: mean, population variance, and zero
    count for every embedding coordinate — the audit that catches DEAD
    dimensions (variance ≈ 0: wasted index width, degenerate quantization
    ranges) and BIASED dimensions (|mean| ≫ 0: un-centered vectors that
    skew inner-product ANN) before an index build commits 100 TB of them.

    Engine-exactness: coordinates in the similarity family's 1e6 fixed
    point; sums and the zero counter are BIGINT; mean/variance are the
    moment formula over exact sums (the q_stats pattern — no engine-order
    float accumulation).

    Scale notes (100 TB): one posexplode + one combiner aggregate keyed by
    dimension — dim-sized output (64 rows), corpus read once, no joins."""
    t = load_tables(spark, sf_dir)
    fx = t.embeddings.select(
        F.posexplode(
            F.expr(
                f"transform(embedding, v -> CAST(ROUND(CAST(v AS DOUBLE) * {FX_SCALE}, 0) AS BIGINT))"
            )
        ).alias("i0", "xi")
    ).select((F.col("i0") + 1).alias("dim"), "xi")
    n = F.count("*")
    s1 = F.sum("xi")
    s2 = F.sum(F.expr("xi * xi"))
    return fx.groupBy("dim").agg(
        n.cast("bigint").alias("n"),
        s1.cast("bigint").alias("sum_fx"),
        s2.cast("bigint").alias("sumsq_fx"),
        F.sum(F.when(F.col("xi") == 0, 1).otherwise(0)).cast("bigint").alias("n_zero"),
        (s1 * F.lit(1.0) / n).alias("mean_fx"),
        (
            (s2 * F.lit(1.0) * n - s1 * F.lit(1.0) * s1)
            / (n * F.lit(1.0) * n)
        ).alias("var_fx"),
    ).select("dim", "n", "sum_fx", "sumsq_fx", "n_zero", "mean_fx", "var_fx")


# --------------------------------------------------------------------------
# Embedding covariance audit (anisotropy / dimensional-collapse detection)
# --------------------------------------------------------------------------

# int64-safety bound for the n·gram covariance numerator (ADVICE r6 #4):
# |xi| ≈ 1e6/√dim ⇒ n·gram ≈ n²·1.6e10 overflows int64 past n ≈ 7.5e5
# vectors. Both engines now FAIL FAST at the bound (Spark assert_true,
# DuckDB error()) instead of Spark wrapping silently where DuckDB raises.
COV_N_MAX = 750_000

_EMBED_COV_ORACLE = f"""
    WITH ex AS (
        SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings
    ), exq AS (
        SELECT vec_id, CAST(i AS INT) AS i,
               CAST(ROUND(x * {FX_SCALE}) AS BIGINT) AS xi
        FROM ex
    ), g AS (
        SELECT a.i AS i, b.i AS j, CAST(SUM(a.xi * b.xi) AS BIGINT) AS gram_fx2
        FROM exq a JOIN exq b ON a.vec_id = b.vec_id AND a.i <= b.i
        GROUP BY 1, 2
    ), s AS (
        SELECT i, CAST(SUM(xi) AS BIGINT) AS si FROM exq GROUP BY i
    ), nv AS (
        SELECT CAST(COUNT(DISTINCT vec_id) AS BIGINT)
               + COALESCE(CASE WHEN COUNT(DISTINCT vec_id) > {COV_N_MAX}
                   THEN CAST(error('q_embed_cov: vector count exceeds the int64-safe bound') AS BIGINT)
                 END, 0) AS n
        FROM exq
    )
    SELECT g.i, g.j, nv.n, g.gram_fx2,
           CAST(nv.n * g.gram_fx2 - sa.si * sb.si AS BIGINT) AS cov_num_fx2
    FROM g, nv
    JOIN s sa ON sa.i = g.i
    JOIN s sb ON sb.i = g.j
"""


@declared("q_embed_cov", oracle=_EMBED_COV_ORACLE)
def q_embed_cov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding COVARIANCE audit — the cross-dimension completion of
    q_embed_dims (per-dim mean/variance): the upper-triangular Gram and
    covariance numerators over 1e6-fixed-point vectors, the input to
    anisotropy checks (is the embedding space collapsing onto a few
    directions? do dims carry redundant signal?) and to PCA-whitening
    decisions before an ANN index is built.

    Compute shape is the BLOCK-MATRIX pattern: each Arrow batch becomes a
    NumPy int64 matrix and contributes one dim×dim partial Gram via a
    single X^T·X — vectorized per-batch compute inside mapInPandas, then a
    map-side-combined SUM keyed by (i, j). Integer matmul is exact, so the
    DuckDB replay (position self-join, SUM of products) matches
    bit-for-bit. Overflow bound (r6 self-review corrected the original
    claim): for unit-ish vectors |xi| ≈ 1e6/√dim ≈ 1.25e5, so gram ≈
    n·1.6e10 and n·gram ≈ n²·1.6e10 — int64-safe to n ≈ 7.5e5 vectors,
    far above these SFs but NOT unbounded: beyond that, lower FX_SCALE
    (1e4 buys 1e4× headroom at 4 fewer digits) or keep per-shard
    (n, Σx, Σxy) partials and combine the covariance hierarchically in
    decimal — the numerator algebra is the same. The bound is ENFORCED
    in-plan on both engines (COV_N_MAX, ADVICE r6 #4): Spark raises via
    assert_true and DuckDB via error() past 7.5e5 vectors, so a larger
    corpus fails loudly instead of Spark wrapping silently.

    Scale notes (100 TB): vectors never shuffle — each task emits at most
    dim(dim+1)/2 = 2080 combiner rows regardless of row count; the final
    aggregate touches #partitions × 2080 rows. The per-dim sums table is
    64 rows, broadcast twice."""
    import numpy as np

    t = load_tables(spark, sf_dir)
    fx = t.embeddings.select(
        F.expr(
            f"transform(embedding, v -> CAST(ROUND(CAST(v AS DOUBLE) * {FX_SCALE}, 0) AS BIGINT))"
        ).alias("e")
    )

    def gram(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            X = np.array([list(e) for e in pdf["e"]], dtype=np.int64)
            G = X.T @ X  # exact integer matmul
            iu = np.triu_indices(G.shape[0])
            yield pd.DataFrame(
                {
                    "i": (iu[0] + 1).astype("int32"),
                    "j": (iu[1] + 1).astype("int32"),
                    "s": G[iu],
                    "cnt": np.full(len(iu[0]), len(pdf), dtype="int64"),
                }
            )

    parts = fx.mapInPandas(gram, "i INT, j INT, s LONG, cnt LONG")
    # fail fast at COV_N_MAX (ADVICE r6 #4): assert_true raises past the
    # int64-safe bound; below it the coalesced null adds 0, so the hash is
    # untouched — and the guard feeds the output column, so Catalyst
    # cannot prune it away.
    n_guarded = (
        F.sum("cnt").cast("bigint")
        + F.coalesce(
            F.assert_true(
                F.sum("cnt") <= COV_N_MAX,
                "q_embed_cov: vector count exceeds the int64-safe bound",
            ).cast("bigint"),
            F.lit(0),
        )
    ).alias("n")
    g = parts.groupBy("i", "j").agg(
        F.sum("s").cast("bigint").alias("gram_fx2"),
        n_guarded,
    )
    exq = t.embeddings.select(
        F.posexplode(
            F.expr(
                f"transform(embedding, v -> CAST(ROUND(CAST(v AS DOUBLE) * {FX_SCALE}, 0) AS BIGINT))"
            )
        ).alias("p", "xi")
    ).select((F.col("p") + 1).cast("int").alias("i"), "xi")
    sums = exq.groupBy("i").agg(F.sum("xi").cast("bigint").alias("si"))
    sa = sums.select(F.col("i"), F.col("si").alias("sa"))
    sb = sums.select(F.col("i").alias("j"), F.col("si").alias("sb"))
    return (
        g.join(F.broadcast(sa), "i")
        .join(F.broadcast(sb), "j")
        .select(
            "i",
            "j",
            "n",
            "gram_fx2",
            (F.col("n") * F.col("gram_fx2") - F.col("sa") * F.col("sb"))
            .cast("bigint")
            .alias("cov_num_fx2"),
        )
    )
