"""Connected components over near-duplicate pair graphs + cluster collapse
(SURVEY.md D2: "connected components via iterative join").

Algorithm: plain min-label propagation — every node starts labeled with
itself; each round joins labels across edges and takes the min; stops at
fixpoint. Rounds are O(DIAMETER) — labels travel one hop per round, NOT
O(log diameter) (that bound belongs to the large-star/small-star algorithm
of Kiveris et al., which rewires edges toward the minimum each round; this
implementation does not rewire). Dup-cluster graphs have tiny diameters
(usually 1-2 — a cluster is docs sharing one template), so 2-3 rounds in
practice, and the convergence guard below turns the pathological case into
a loud error instead of wrong labels.

Scale notes (100 TB): each round is one shuffle keyed on node id over the
|pairs|-sized edge list (LSH-bounded, ≪ |docs|); the driver only sees the
converged/changed COUNT (a scalar), never the data. The final collapse
(keep min-id doc per cluster) is one aggregation. KNOWN LIMIT (pinned by
test_long_chain_exceeds_round_budget): a long-chain graph — diameter >
max_iter, e.g. a citation path or a linked-list-shaped join graph — raises
RuntimeError by design; for general graphs swap in large-star/small-star
(alternate rounds attach every neighbor to the component minimum, shrinking
diameter geometrically) at the cost of two shuffles per round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.cachereg import memoized
from ..plans.registry import declared
from ..sources.catalog import load_tables
from .textprep import sql_shingles


def _release_checkpoint(df: DataFrame) -> None:
    """Best-effort eager release of a localCheckpoint'ed frame's blocks.

    A checkpointed DataFrame's plan is a LogicalRDD over the materialized
    internal RDD, so queryExecution().toRdd() hands back exactly that RDD
    and unpersist drops its storage now instead of waiting for the
    ContextCleaner to notice the Python reference died — without this,
    every superseded propagation round's full label snapshot lingers in
    executor storage for the rest of the loop (r5 code-review finding).
    Best-effort: if the plan shape ever changes, GC-driven cleanup still
    applies."""
    try:
        df._jdf.queryExecution().toRdd().unpersist(False)
    except Exception:
        pass


def connected_components(
    pairs: DataFrame,
    a: str = "doc_a",
    b: str = "doc_b",
    max_iter: int = 20,
    seed: DataFrame | None = None,
) -> DataFrame:
    """(a,b) edges → (node, component) with component = min node id reachable.

    ``seed`` (optional, columns (node, comp)): INCREMENTAL MAINTENANCE —
    start propagation from a previous labeling instead of node ids
    (q_cc_incr). Any seed whose labels are node ids within each node's own
    component converges to the same fixed point (the component-min node
    id), because the min label initially present in a component is exactly
    its min node id: every node carries either its own id or an old
    component minimum, which is itself a member node's id. Convergence
    then takes rounds proportional to how far the DELTA edges moved
    labels, not the full graph diameter — the incremental win."""
    edges = (
        pairs.select(F.col(a).alias("u"), F.col(b).alias("v"))
        .unionAll(pairs.select(F.col(b).alias("u"), F.col(a).alias("v")))
        .distinct()
        .persist()
    )
    nodes = edges.select(F.col("u").alias("node")).distinct()
    if seed is not None:
        init = nodes.join(
            seed.select(F.col("node").alias("s_node"), F.col("comp").alias("s_comp")),
            nodes.node == F.col("s_node"),
            "left",
        ).select("node", F.coalesce("s_comp", "node").alias("comp"))
    else:
        init = nodes.select("node", F.col("node").alias("comp"))
    labels = (
        init
        # localCheckpoint, not persist: each round's frame references the
        # previous round's TWICE (propagation join + change check), so an
        # un-truncated lineage doubles per round — exponential plan growth
        # that OOMs the driver compiling round ~10's plan. Checkpointing
        # materializes the round's labels on the executors and cuts the
        # logical plan back to a leaf (production: checkpoint() to reliable
        # storage so a lost executor can't kill a long run).
        .localCheckpoint(eager=True)
    )
    converged = False
    for _ in range(max_iter):
        # candidate label for v = min over neighbors u of label(u)
        prop = (
            edges.join(labels, edges.u == labels.node)
            .select(F.col("v").alias("node"), F.col("comp"))
            .groupBy("node")
            .agg(F.min("comp").alias("new_comp"))
        )
        updated = (
            labels.join(prop, "node", "left")
            .select(
                "node",
                F.least(F.col("comp"), F.coalesce(F.col("new_comp"), F.col("comp"))).alias("comp"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            updated.join(labels.withColumnRenamed("comp", "old"), "node")
            .filter(F.col("comp") != F.col("old"))
            .count()
        )
        _release_checkpoint(labels)  # superseded round's materialized blocks
        labels = updated
        if changed == 0:
            converged = True
            break
    if not converged:
        # silent non-convergence would hand back WRONG labels
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(graph diameter too large — raise max_iter)"
        )
    edges.unpersist()
    return labels.select("node", "comp")


def collapse_near_dups(df: DataFrame, pairs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Keep one representative (min id) per near-dup cluster; singletons pass
    through untouched — the end-to-end near-dedup operator."""
    comps = connected_components(pairs)
    keep_ids = comps.filter(F.col("node") == F.col("comp")).select(
        F.col("node").alias(id_col)
    )
    dup_members = comps.select(F.col("node").alias(id_col))
    survivors_in_graph = df.join(keep_ids, id_col, "left_semi")
    not_in_graph = df.join(dup_members, id_col, "left_anti")
    return survivors_in_graph.unionByName(not_in_graph)


def _clusters_oracle() -> str:
    """Oracle with IMPLEMENTATION-EQUIVALENT edges (ADVICE r1): the pairs CTE
    replays the exact md5 min-hash banding + Jaccard verify that
    dedup_near_minhash runs (same construction as q_dedup_near's oracle), so
    a borderline pair missing every LSH band is absent on BOTH sides and the
    hash gate cannot sit on the banding recall cliff. Only the closure stays
    orthogonal: recursive-CTE transitive expansion vs iterative min-label."""
    from .dedup import sql_minhash_capped_cand

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
        -- transitive closure by recursive expansion (pair graph is tiny)
        SELECT u, v FROM edges
        UNION
        SELECT r.u, e2.v FROM reach r JOIN edges e2 ON r.v = e2.u
    ), comps AS (
        SELECT n.u AS node, LEAST(n.u, MIN(r.v)) AS comp
        FROM (SELECT DISTINCT u FROM edges) n
        LEFT JOIN reach r ON r.u = n.u
        GROUP BY n.u
    )
    """


def _clusters_select() -> str:
    return _clusters_oracle() + "SELECT node, comp FROM comps"


@declared("q_dedup_clusters", oracle=_clusters_select())
def q_dedup_clusters(spark, sf_dir: str) -> DataFrame:
    """Near-dup clusters: MinHash-LSH pairs → iterative min-label components.
    Edges replayed by the oracle (see _clusters_oracle); the closure itself is
    an orthogonal recursive-CTE implementation."""
    from .dedup import dedup_near_minhash

    t = load_tables(spark, sf_dir)
    pairs = dedup_near_minhash(t.documents, threshold=0.6).select("doc_a", "doc_b")
    return connected_components(pairs).select(
        F.col("node").cast("bigint").alias("node"), F.col("comp").cast("bigint").alias("comp")
    )


# --------------------------------------------------------------------------
# Duplicate-cluster size histogram (dedup yield forecasting)
# --------------------------------------------------------------------------


def _cluster_sizes_oracle() -> str:
    return (
        _clusters_oracle()
        + """
    SELECT CAST(sz AS BIGINT) AS cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(sz - 1) AS BIGINT) AS n_removable,
           CAST(MIN(comp) AS BIGINT) AS example_comp
    FROM (SELECT comp, COUNT(*) AS sz FROM comps GROUP BY comp)
    GROUP BY sz
    """
    )


@declared("q_cluster_sizes", oracle=_cluster_sizes_oracle())
def q_cluster_sizes(spark, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size histogram: how many near-dup clusters exist at
    each size, and how many documents dedup would remove (size-1 per
    cluster) — the yield forecast a pipeline runs BEFORE committing a
    corpus-wide collapse (a histogram dominated by giant clusters means
    boilerplate/template contamination; pair-heavy long tails mean true
    near-dups). Same edges and closure as q_dedup_clusters; the histogram
    is two combiner aggregates on top.

    Scale notes (100 TB): cluster count ≤ |pairs| (LSH-bounded); both
    groupBys are map-side-combined; output is histogram-sized (distinct
    cluster sizes)."""
    from .dedup import dedup_near_minhash

    t = load_tables(spark, sf_dir)
    pairs = dedup_near_minhash(t.documents, threshold=0.6).select("doc_a", "doc_b")
    comps = connected_components(pairs)
    sizes = comps.groupBy("comp").agg(F.count("*").alias("sz"))
    return sizes.groupBy("sz").agg(
        F.count("*").cast("bigint").alias("n_clusters"),
        F.sum(F.col("sz") - 1).cast("bigint").alias("n_removable"),
        F.min("comp").cast("bigint").alias("example_comp"),
    ).select(
        F.col("sz").cast("bigint").alias("cluster_size"),
        "n_clusters",
        "n_removable",
        "example_comp",
    )


# --------------------------------------------------------------------------
# Triangle counting with degree orientation (graph analytics at scale)
# --------------------------------------------------------------------------

_TRIANGLES_ORACLE = """
    WITH co AS (
        SELECT DISTINCT date_trunc('hour', ts) AS h, user_id FROM events
        WHERE ts < TIMESTAMP '2024-01-02 00:00:00'
    ), edges AS (
        SELECT DISTINCT a.user_id AS u, b.user_id AS v
        FROM co a JOIN co b ON a.h = b.h AND a.user_id < b.user_id
    ), deg AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
            SELECT u AS node FROM edges UNION ALL SELECT v AS node FROM edges
        ) GROUP BY node
    ), oriented AS (
        SELECT CASE WHEN (du.deg, e.u) < (dv.deg, e.v) THEN e.u ELSE e.v END AS s,
               CASE WHEN (du.deg, e.u) < (dv.deg, e.v) THEN e.v ELSE e.u END AS t
        FROM edges e
        JOIN deg du ON du.node = e.u
        JOIN deg dv ON dv.node = e.v
    ), od AS (
        -- carry the target's (deg, id) so wedges can be ordered by the SAME
        -- total order used for orientation: then the closing edge of wedge
        -- (b, c) is always oriented b -> c and closure is a pure EQUI-join
        SELECT o.s, o.t, d.deg AS dt FROM oriented o JOIN deg d ON d.node = o.t
    ), wedges AS (
        SELECT w1.t AS b, w2.t AS c
        FROM od w1 JOIN od w2
          ON w1.s = w2.s AND (w1.dt, w1.t) < (w2.dt, w2.t)
    ), tri AS (
        SELECT COUNT(*) AS n_tri
        FROM wedges w JOIN oriented o ON o.s = w.b AND o.t = w.c
    )
    SELECT CAST((SELECT COUNT(*) FROM deg) AS BIGINT) AS n_nodes,
           CAST((SELECT COUNT(*) FROM edges) AS BIGINT) AS n_edges,
           CAST((SELECT n_tri FROM tri) AS BIGINT) AS n_triangles,
           (SELECT n_tri FROM tri) * 3.0
               / NULLIF((SELECT SUM(deg * (deg - 1) // 2) FROM deg), 0)
               AS clustering_coeff
"""


# q_triangles and q_degree_dist audit the SAME first-day co-occurrence
# graph; building it twice doubled q_degree_dist's exchange count (16 in the
# r5 plan audit — the heaviest plan in docs/PLANS.md). Both now read one
# persisted copy; correctness never depends on the persistence — an
# unpersisted hit just recomputes lineage.
@memoized
def day1_cooccurrence_graph(spark, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(edges, deg) of the first-day user co-occurrence graph (users active
    in the same hour are connected; u < v, deduped), persisted and memoized
    per (session, sf_dir). One co-occurrence dedup shuffle + one self-join +
    one degree aggregate, paid ONCE for the whole graph-audit family."""
    t = load_tables(spark, sf_dir)
    co = (
        t.events.filter(F.col("ts") < F.expr("TIMESTAMP '2024-01-02 00:00:00'"))
        .select(F.date_trunc("hour", "ts").alias("h"), "user_id")
        .distinct()
    )
    a, b = co.alias("a"), co.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h")) & (F.col("a.user_id") < F.col("b.user_id")),
        )
        .select(F.col("a.user_id").alias("u"), F.col("b.user_id").alias("v"))
        .distinct()
        .persist()
    )
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("deg"))
        .persist()
    )
    return edges, deg


# The src-partitioned both-direction edge list shared by the iteration
# families (r8 perf pass).
@memoized
def day1_directed_edges(spark, sf_dir: str) -> DataFrame:
    """Both-direction ``(src, dst)`` view of the day-1 graph, hash-
    partitioned by src ONCE and persisted. Every iterative graph query
    (PageRank, BFS, label propagation) joins the edge list on src once per
    round; sharing one src-partitioned copy lets each round's join REUSE
    the partitioning instead of re-shuffling the edges per iteration —
    measured at sf0.1: q_pagerank 6.9 s → 3.6 s, values identical.
    Partition count follows spark.sql.shuffle.partitions (cluster-sized at
    the 100 TB design point, where this is exactly the classic
    partitioned-adjacency layout every Pregel system keeps resident).
    Memoized per (session, sf_dir)."""
    edges, _ = day1_cooccurrence_graph(spark, sf_dir)
    nparts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    return (
        edges.select(F.col("u").alias("src"), F.col("v").alias("dst"))
        .unionAll(edges.select(F.col("v").alias("src"), F.col("u").alias("dst")))
        .repartition(nparts, "src")
        .persist()
    )


@declared("q_triangles", oracle=_TRIANGLES_ORACLE)
def q_triangles(spark, sf_dir: str) -> DataFrame:
    """Triangle counting with DEGREE ORIENTATION over the user
    co-occurrence graph (users active in the same hour are connected) —
    the canonical bounded-wedge trick for distributed triangle counting:
    orient every edge from its (degree, id)-smaller endpoint to the larger,
    so wedges are only enumerated at their lowest-degree vertex. A hub of
    degree d in the naive algorithm generates d(d-1)/2 wedges; oriented,
    every vertex's out-degree is O(sqrt(|E|)) and total wedge count drops
    from sum(d^2) to O(|E|^1.5) — the difference between feasible and not
    on a 100 TB power-law graph. The global clustering coefficient
    (3*triangles / open+closed wedges) comes from the same degree table.

    Engine-exactness: all counting is integer; the coefficient is one
    int*3.0/int division. The (deg, id) lexicographic orientation is a
    total order, so both engines orient identically.

    Plan shape: co-occurrence dedup (one shuffle), degree agg (one), the
    wedge self-join and closure join shuffle the ORIENTED edge list —
    bounded as above; the closure membership probe is the relational form
    of an adjacency-set intersection."""
    # first-day slice: the full month's co-occurrence graph is near-complete
    # at the testdata's user counts (every pair eventually shares an hour),
    # which is a degenerate input for ANY triangle algorithm — the realistic
    # production shape is a time-sliced graph per maintenance window
    edges, deg = day1_cooccurrence_graph(spark, sf_dir)
    return triangle_stats(edges, deg)


def triangle_stats(edges: DataFrame, deg: DataFrame | None = None) -> DataFrame:
    """q_triangles' degree-oriented core on an arbitrary (u, v) edge list
    (u < v, no duplicates) — factored out for planted-graph tests. Pass a
    precomputed ``deg(node, deg)`` table to reuse a shared one (q_triangles
    shares q_degree_dist's via day1_cooccurrence_graph)."""
    if deg is None:
        edges = edges.persist()
        deg = (
            edges.select(F.col("u").alias("node"))
            .unionAll(edges.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count("*").cast("bigint").alias("deg"))
            .persist()
        )
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
    lt = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = (
        edges.join(F.broadcast(du), "u")
        .join(F.broadcast(dv), "v")
        .select(
            F.when(lt, F.col("u")).otherwise(F.col("v")).alias("s"),
            F.when(lt, F.col("v")).otherwise(F.col("u")).alias("t"),
        )
        .persist()
    )
    # carry the target's (deg, id) and order wedge endpoints by the SAME
    # total order used for orientation — the closing edge of wedge (b, c) is
    # then always oriented b -> c, so the closure probe is a pure EQUI-join
    # (an OR of the two directions would force a nested-loop: a scale-killer)
    dt = deg.select(F.col("node").alias("t"), F.col("deg").alias("dt"))
    od = oriented.join(F.broadcast(dt), "t").select("s", "t", "dt")
    w1 = od.select("s", F.col("t").alias("b"), F.col("dt").alias("db"))
    w2 = od.select("s", F.col("t").alias("c"), F.col("dt").alias("dc"))
    wedges = (
        w1.join(w2, "s")
        .filter(
            (F.col("db") < F.col("dc"))
            | ((F.col("db") == F.col("dc")) & (F.col("b") < F.col("c")))
        )
        .select("b", "c")
    )
    closure = wedges.join(
        oriented, (oriented.s == wedges.b) & (oriented.t == wedges.c)
    )
    n_tri = closure.agg(F.count("*").cast("bigint").alias("n_tri"))
    n_nodes = deg.agg(F.count("*").cast("bigint").alias("n_nodes"))
    n_edges = edges.agg(F.count("*").cast("bigint").alias("n_edges"))
    wedge_total = deg.agg(
        F.sum(F.expr("deg * (deg - 1) div 2")).cast("bigint").alias("n_wedges")
    )
    return (
        n_nodes.crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(n_tri))
        .crossJoin(F.broadcast(wedge_total))
        .select(
            "n_nodes",
            "n_edges",
            F.col("n_tri").alias("n_triangles"),
            # 3e0 not 3.0: Spark parses 3.0 as DECIMAL (DuckDB: DOUBLE)
            F.expr("n_tri * 3e0 / NULLIF(n_wedges, 0)").alias("clustering_coeff"),
        )
    )


# --------------------------------------------------------------------------
# Degree distribution of the co-occurrence graph (power-law audit)
# --------------------------------------------------------------------------

_DEGREE_DIST_ORACLE = """
    WITH co AS (
        SELECT DISTINCT date_trunc('hour', ts) AS h, user_id FROM events
        WHERE ts < TIMESTAMP '2024-01-02 00:00:00'
    ), edges AS (
        SELECT DISTINCT a.user_id AS u, b.user_id AS v
        FROM co a JOIN co b ON a.h = b.h AND a.user_id < b.user_id
    ), deg AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
            SELECT u AS node FROM edges UNION ALL SELECT v AS node FROM edges
        ) GROUP BY node
    ), tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM deg
    )
    SELECT deg AS degree,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(MIN(node) AS BIGINT) AS example_node,
           COUNT(*) * 1e0 / t.n_nodes AS frac
    FROM deg CROSS JOIN tot t
    GROUP BY deg, t.n_nodes
"""


@declared("q_degree_dist", oracle=_DEGREE_DIST_ORACLE)
def q_degree_dist(spark, sf_dir: str) -> DataFrame:
    """Degree distribution of the first-day user co-occurrence graph — the
    pre-flight audit for every graph operator in this module: a power-law
    tail here is what makes un-oriented triangle counting (Σd²) explode
    and what sizes the large-star/small-star decision for components; a
    near-complete graph (all degrees ≈ n-1) says the time slice is too
    wide to be meaningful. Same edge construction as q_triangles, so the
    two audits read together.

    Engine-exactness: pure integer degrees; one 1e0 division for the
    fraction.

    Scale notes (100 TB): the co-occurrence dedup + self-join + degree agg
    are SHARED with q_triangles (day1_cooccurrence_graph — one persisted
    copy per session/sf_dir; the r5 plan audit showed rebuilding it here
    doubled this query's exchanges to 16); the histogram is one more
    combiner aggregate onto distinct-degree rows."""
    _, deg = day1_cooccurrence_graph(spark, sf_dir)
    tot = deg.agg(F.count("*").cast("bigint").alias("n_nodes"))
    return (
        deg.crossJoin(F.broadcast(tot))
        .groupBy("deg", "n_nodes")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.min("node").cast("bigint").alias("example_node"),
        )
        .select(
            F.col("deg").alias("degree"),
            F.col("n").alias("n_nodes"),
            "example_node",
            F.expr("n * 1e0 / n_nodes").alias("frac"),
        )
    )
