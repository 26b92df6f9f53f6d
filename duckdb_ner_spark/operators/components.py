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

The graph analytics over the day-1 event graphs live here too: fixed-point
PageRank, power iteration and TextRank, label propagation and modularity,
BFS distances, assortativity, k-core peeling, SCC seeds, and incremental
components under appends (q_cc_incr).
"""

from __future__ import annotations

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession
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
    Best-effort: if the JVM call fails or the frame has no JVM handle,
    GC-driven cleanup still applies."""
    try:
        df._jdf.queryExecution().toRdd().unpersist(False)
    except (Py4JError, AttributeError):
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


def clusters_oracle() -> str:
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
    return clusters_oracle() + "SELECT node, comp FROM comps"


@declared("q_dedup_clusters", oracle=_clusters_select())
def q_dedup_clusters(spark, sf_dir: str) -> DataFrame:
    """Near-dup clusters: MinHash-LSH pairs → iterative min-label components.
    Edges replayed by the oracle (see clusters_oracle); the closure itself is
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
        clusters_oracle()
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


def pagerank_ranks(dirn: DataFrame, deg: DataFrame, n: int) -> DataFrame:
    """The q_pagerank iteration core (PR_ITERS rounds) on an arbitrary
    directed edge list ``dirn(src, dst)`` + degree table ``deg(node, deg)``
    — factored out for the scaling probe and planted-graph tests.
    USING-joins on renamed key columns throughout: dirn/deg usually descend
    from one edge list, so expression-id joins would be ambiguous
    self-joins."""
    base = PR_SCALE // n
    tele = (15 * base) // 100
    r = deg.select("node", F.lit(base).cast("bigint").alias("pr"))
    for _ in range(PR_ITERS):
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
# Integer power iteration (dominant Gram eigenvector, 2 unrolled steps)
# --------------------------------------------------------------------------

PI_FX = 1_000_000  # element quantization AND iterate normalization scale
PI_N_MAX = 1_000_000  # int64 safety: n * (PI_FX)^2 <= 1e18 < 2^63
# signed floor-vs-trunc guard: both engines split sign so the division
# runs on non-negatives, where Spark `div` and DuckDB `//` agree
_SPARK_SDIV = "CASE WHEN {x} < 0 THEN -((-({x})) div {y}) ELSE ({x}) div {y} END"
_DUCK_SDIV = "CASE WHEN {x} < 0 THEN -((-({x})) // {y}) ELSE ({x}) // {y} END"

_PI_ORACLE = f"""
    WITH ex AS (
        SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
               CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * {PI_FX})
                    AS BIGINT) AS q
        FROM embeddings
    ), nv AS (
        SELECT CAST(COUNT(DISTINCT vec_id) AS BIGINT)
               + COALESCE(CASE WHEN COUNT(DISTINCT vec_id) > {PI_N_MAX}
                   THEN CAST(error('q_power_iteration: vector count exceeds the int64-safe bound') AS BIGINT)
                 END, 0) AS n
        FROM ex
    ), gram AS (
        SELECT a.i AS i, b.i AS j, CAST(SUM(a.q * b.q) AS BIGINT) AS g
        FROM ex a JOIN ex b ON a.vec_id = b.vec_id GROUP BY a.i, b.i
    ), cs AS (
        SELECT i, j,
               CAST({_DUCK_SDIV.format(x="g", y=PI_FX)} AS BIGINT) AS g
        FROM gram
    ), w1 AS (
        SELECT i, CAST(SUM(g) * {PI_FX} AS BIGINT) AS w FROM cs GROUP BY i
    ), m1 AS (
        SELECT GREATEST(MAX(ABS(w)) // {PI_FX}, 1) AS m FROM w1
    ), v1 AS (
        SELECT i, CAST({_DUCK_SDIV.format(x="w1.w", y="m1.m")} AS BIGINT) AS v
        FROM w1, m1
    ), w2 AS (
        SELECT cs.i, CAST(SUM(cs.g * v1.v) AS BIGINT) AS w
        FROM cs JOIN v1 ON v1.i = cs.j GROUP BY cs.i
    ), m2 AS (
        SELECT GREATEST(MAX(ABS(w)) // {PI_FX}, 1) AS m FROM w2
    ), v2 AS (
        SELECT i, CAST({_DUCK_SDIV.format(x="w2.w", y="m2.m")} AS BIGINT) AS v
        FROM w2, m2
    )
    SELECT v1.i AS dim, nv.n AS n_vec,
           v1.v AS v1_fx, v2.v AS v2_fx,
           CAST(ABS(v2.v - v1.v) AS BIGINT) AS delta_fx
    FROM v1 JOIN v2 ON v2.i = v1.i CROSS JOIN nv
    ORDER BY dim
"""


@declared("q_power_iteration", oracle=_PI_ORACLE)
def q_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power iteration for the dominant eigenvector of the embedding Gram
    matrix, run for two UNROLLED steps entirely in integer fixed point —
    the iterative-algorithm pattern (PCA direction, spectral dedup
    centroid, PageRank's linear-algebra core) expressed relationally and
    engine-exactly. Start from the all-ones vector (x PI_FX); each step is
    a relational mat-vec (join Gram on j, SUM by i) followed by an
    exactly-specified normalization: divide by max(|w|) div PI_FX with
    sign-split floor division, keeping the iterate's magnitude near PI_FX.
    Per dimension: both iterates and their movement |v2 - v1| (the
    convergence readout; the dominant eigengap sets its decay).

    Engine-exactness: the Gram matrix is an integer outer-product sum of
    PI_FX-quantized elements; every division is sign-split onto
    non-negatives (Spark div truncates, DuckDB // floors — they agree
    there); the int64 bound n_vec <= PI_N_MAX (n·FX^2 <= 1e18) is ENFORCED
    in-plan on both engines (Spark assert_true / DuckDB error(), the
    q_embed_cov pattern, similarity.py:1386) via the n_vec output column
    so Catalyst cannot prune the guard.

    Scale notes (100 TB): the only corpus-sized stage is the Gram
    outer-product aggregate — map-side combinable into at most d^2 = 4096
    cells per partition (the classic treeAggregate Gram pattern; cf.
    q_embed_cov's mapInPandas variant which does the same with vectorized
    batches); both iterations run on the 4096-row Gram x 64-row iterate —
    broadcast joins, zero additional passes over the data. More steps =
    more 4096-row joins, each a few milliseconds, which is why production
    power iteration on a 1000-executor cluster aggregates once and
    iterates driver-adjacent."""
    t = load_tables(spark, sf_dir)
    ex = t.embeddings.select(
        "vec_id",
        F.posexplode("embedding").alias("i", "e"),
    ).select(
        "vec_id",
        "i",
        F.expr(f"CAST(ROUND(CAST(e AS DOUBLE) * {PI_FX}, 0) AS BIGINT)").alias("q"),
    )
    ex.persist()  # Gram self-join probes it twice; nv re-reads it
    nv = ex.agg(
        (
            F.countDistinct("vec_id").cast("bigint")
            + F.coalesce(
                F.assert_true(
                    F.countDistinct("vec_id") <= PI_N_MAX,
                    "q_power_iteration: vector count exceeds the int64-safe bound",
                ).cast("bigint"),
                F.lit(0),
            )
        ).alias("n_vec")
    )
    gram = (
        ex.alias("a")
        .join(
            ex.select(
                F.col("vec_id").alias("bv"),
                F.col("i").alias("j"),
                F.col("q").alias("bq"),
            ).alias("b"),
            F.col("a.vec_id") == F.col("bv"),
        )
        .groupBy("a.i", "j")
        .agg(F.sum(F.col("a.q") * F.col("bq")).cast("bigint").alias("g"))
    )
    cs = gram.select(
        "i", "j",
        F.expr(
            "CAST(" + _SPARK_SDIV.format(x="g", y=PI_FX) + " AS BIGINT)"
        ).alias("g"),
    )
    cs.persist()  # feeds both mat-vec steps
    w1 = cs.groupBy("i").agg(
        (F.sum("g") * PI_FX).cast("bigint").alias("w")
    )
    m1 = w1.agg(
        F.expr(f"GREATEST(MAX(ABS(w)) div {PI_FX}, 1)").alias("m")
    )
    v1 = w1.crossJoin(F.broadcast(m1)).select(
        "i",
        F.expr(
            "CAST(" + _SPARK_SDIV.format(x="w", y="m") + " AS BIGINT)"
        ).alias("v"),
    )
    w2 = (
        cs.join(
            F.broadcast(v1.select(F.col("i").alias("j"), "v")), "j"
        )
        .groupBy("i")
        .agg(F.sum(F.col("g") * F.col("v")).cast("bigint").alias("w"))
    )
    m2 = w2.agg(
        F.expr(f"GREATEST(MAX(ABS(w)) div {PI_FX}, 1)").alias("m")
    )
    v2 = w2.crossJoin(F.broadcast(m2)).select(
        "i",
        F.expr(
            "CAST(" + _SPARK_SDIV.format(x="w", y="m") + " AS BIGINT)"
        ).alias("v"),
    )
    return (
        v1.select(F.col("i").alias("dim"), F.col("v").alias("v1_fx"))
        .join(
            v2.select(F.col("i").alias("dim"), F.col("v").alias("v2_fx")),
            "dim",
        )
        .crossJoin(F.broadcast(nv))
        .select(
            "dim",
            "n_vec",
            "v1_fx",
            "v2_fx",
            F.abs(F.col("v2_fx") - F.col("v1_fx")).cast("bigint").alias("delta_fx"),
        )
        .orderBy("dim")
    )


# --------------------------------------------------------------------------
# Modularity of the label-propagation communities (graph-quality readout)
# --------------------------------------------------------------------------

MOD_SCALE = 10_000  # basis points


def _mod_oracle() -> str:

    sdiv = _DUCK_SDIV.format(
        x=f"(4 * mm.m * agg.m_c - agg.d_c * agg.d_c) * {MOD_SCALE}",
        y="(4 * mm.m * mm.m)",
    )
    return f"""
    WITH {_PR_GRAPH_CTE}, {_lp_iter_ctes()}, comm AS (
        SELECT node, CAST(COALESCE(lbl, -1) AS BIGINT) AS c
        FROM lab{LP_ITERS}
    ), mm AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS m FROM uedges
    ), intra AS (
        SELECT cu.c, CAST(COUNT(*) AS BIGINT) AS m_c
        FROM uedges e
        JOIN comm cu ON cu.node = e.u
        JOIN comm cv ON cv.node = e.v AND cv.c = cu.c
        GROUP BY cu.c
    ), agg AS (
        SELECT comm.c,
               CAST(COUNT(*) AS BIGINT) AS n_nodes,
               CAST(SUM(deg.deg) AS BIGINT) AS d_c,
               CAST(COALESCE(MIN(intra.m_c), 0) AS BIGINT) AS m_c
        FROM comm
        JOIN deg ON deg.node = comm.node
        LEFT JOIN intra ON intra.c = comm.c
        GROUP BY comm.c
    )
    SELECT agg.c AS community, agg.n_nodes, agg.m_c AS intra_edges,
           agg.d_c AS deg_sum,
           CAST({sdiv} AS BIGINT) AS q_contrib_bp
    FROM agg CROSS JOIN mm
    ORDER BY community
"""


@declared("q_modularity", oracle=_mod_oracle())
def q_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the label-propagation communities over the
    day-1 co-occurrence graph: Q = sum_c [m_c/m - (d_c/2m)^2], computed
    per community in exact basis points via the cleared-denominator form
    (4·m·m_c - d_c^2)·SCALE / (4·m^2) — the community-quality readout
    that tells a curation pipeline whether the clusters its dedup or
    topic-bucketing stage found are real structure or noise (Q near 0).
    Per community: size, intra-edge count, degree mass, and its signed
    modularity contribution; unreached nodes form community -1.

    Engine-exactness: reuses q_label_prop's propagation core verbatim
    (label_prop_labels — same total-order argmax), so the
    community assignment is already differentially verified; m_c / d_c /
    m are exact integer counts; the one division is sign-split onto
    non-negatives (contributions CAN be negative when a community's
    degree mass exceeds its internal density).

    Scale notes (100 TB): two node-keyed joins of the edge list against
    the (node, community) table (the PageRank shuffle shape), then
    everything collapses to per-community rows; no new pass over events
    beyond what label propagation already does."""

    edges, deg = day1_cooccurrence_graph(spark, sf_dir)
    edges.persist()  # m + the intra join both scan it
    # propagation runs ONCE per session (shared with q_label_prop via the
    # persisted day1_propagated_labels memo — VERDICT r7 #6)
    comm = day1_propagated_labels(spark, sf_dir).select(
        "node", F.coalesce("lbl", F.lit(-1)).cast("bigint").alias("c")
    )
    comm.persist()  # two edge-endpoint joins + the degree join
    mm = edges.agg(F.count("*").cast("bigint").alias("m"))
    intra = (
        edges.join(comm.select(F.col("node").alias("u"), F.col("c").alias("cu")), "u")
        .join(
            comm.select(F.col("node").alias("v"), F.col("c").alias("cv")), "v"
        )
        .filter(F.col("cu") == F.col("cv"))
        .groupBy(F.col("cu").alias("c"))
        .agg(F.count("*").cast("bigint").alias("m_c"))
    )
    agg = (
        comm.join(deg, "node")
        .groupBy("c")
        .agg(
            F.count("*").cast("bigint").alias("n_nodes"),
            F.sum("deg").cast("bigint").alias("d_c"),
        )
        .join(intra, "c", "left")
        .select(
            "c", "n_nodes", "d_c",
            F.coalesce("m_c", F.lit(0)).cast("bigint").alias("m_c"),
        )
    )
    sdiv = _SPARK_SDIV.format(
        x=f"(4 * m * m_c - d_c * d_c) * {MOD_SCALE}", y="(4 * m * m)"
    )
    return (
        agg.crossJoin(F.broadcast(mm))
        .select(
            F.col("c").alias("community"),
            "n_nodes",
            F.col("m_c").alias("intra_edges"),
            F.col("d_c").alias("deg_sum"),
            F.expr(f"CAST({sdiv} AS BIGINT)").alias("q_contrib_bp"),
        )
        .orderBy("community")
    )


# --------------------------------------------------------------------------
# Degree assortativity (integer Pearson over the symmetrized edge list)
# --------------------------------------------------------------------------

def _assort_oracle() -> str:

    sdiv = _DUCK_SDIV.format(
        x=f"(mm.m2 * st.sxy - st.sx * st.sx) * {MOD_SCALE}",
        y="GREATEST(mm.m2 * st.sxx - st.sx * st.sx, 1)",
    )
    return f"""
    WITH {_PR_GRAPH_CTE}, pairs AS (
        SELECT du.deg AS x, dv.deg AS y
        FROM dirn e
        JOIN deg du ON du.node = e.src
        JOIN deg dv ON dv.node = e.dst
    ), mm AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS m2 FROM pairs
    ), st AS (
        SELECT CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(x * y) AS BIGINT) AS sxy
        FROM pairs
    )
    SELECT mm.m2 AS n_edge_ends, st.sx AS sum_deg, st.sxx AS sum_deg_sq,
           st.sxy AS sum_xy,
           CAST({sdiv} AS BIGINT) AS assortativity_bp
    FROM mm CROSS JOIN st
"""


@declared("q_assortativity", oracle=_assort_oracle())
def q_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (Newman 2002) of the day-1 co-occurrence
    graph: the Pearson correlation of endpoint degrees over the
    SYMMETRIZED edge list, where symmetry collapses the usual four-moment
    formula to r = (M·Σxy - (Σx)²) / (M·Σx² - (Σx)²) — entirely integer
    moments, one sign-split division into signed basis points. Positive r
    = hubs attach to hubs (social-graph shape), negative = hub-and-spoke
    (crawl frontier shape); the structure readout that tells a sampling
    stage whether degree-stratified sampling is needed before graph-based
    curation.

    Engine-exactness: degrees and moments are exact BIGINTs over the
    deterministic edge list; the single division is sign-split (r can be
    negative) with a GREATEST(.,1) guard for the degenerate
    constant-degree graph; one output row, no ordering concerns.

    Scale notes (100 TB): two node-keyed joins decorate edge ends with
    degrees (the PageRank shuffle shape), then ONE map-side-combinable
    global moment aggregate — no per-key state at all after the joins;
    moments bound: deg <= n, Σx·x <= M·n² (documented headroom far above
    these SFs; past it, downscale degrees first as q_power_iteration
    does)."""

    edges, deg = day1_cooccurrence_graph(spark, sf_dir)
    dirn = edges.select(F.col("u").alias("src"), F.col("v").alias("dst")).unionAll(
        edges.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    )
    pairs = dirn.join(
        deg.select(F.col("node").alias("src"), F.col("deg").alias("x")), "src"
    ).join(
        deg.select(F.col("node").alias("dst"), F.col("deg").alias("y")), "dst"
    )
    sdiv = _SPARK_SDIV.format(
        x=f"(m2 * sxy - sx * sx) * {MOD_SCALE}",
        y="GREATEST(m2 * sxx - sx * sx, 1)",
    )
    return (
        pairs.agg(
            F.count("*").cast("bigint").alias("m2"),
            F.sum("x").cast("bigint").alias("sx"),
            F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
            F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        )
        .select(
            F.col("m2").alias("n_edge_ends"),
            F.col("sx").alias("sum_deg"),
            F.col("sxx").alias("sum_deg_sq"),
            F.col("sxy").alias("sum_xy"),
            F.expr(f"CAST({sdiv} AS BIGINT)").alias("assortativity_bp"),
        )
    )


# --------------------------------------------------------------------------
# k-core peeling (iterative node removal — the fifth graph primitive)
# --------------------------------------------------------------------------

KCORE_K = 3
KCORE_ROUNDS = 3

_PEEL_GRAPH_CTE = """co AS (
        SELECT DISTINCT date_trunc('hour', ts) AS h, user_id
        FROM events WHERE ts < TIMESTAMP '2024-01-02 00:00:00'
    ), edges AS (
        SELECT DISTINCT a.user_id AS u, b.user_id AS v
        FROM co a JOIN co b ON a.h = b.h AND a.user_id < b.user_id
    )"""


def _kcore_oracle() -> str:
    k = KCORE_K
    ctes = [
        _PEEL_GRAPH_CTE,
        """alive0 AS (
        SELECT u AS node FROM edges UNION SELECT v FROM edges
    )""",
    ]
    stats = []
    for i in range(1, KCORE_ROUNDS + 1):
        ctes.append(f"""e{i} AS (
        SELECT u, v FROM edges
        WHERE u IN (SELECT node FROM alive{i - 1})
          AND v IN (SELECT node FROM alive{i - 1})
    ), d{i} AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
            SELECT u AS node FROM e{i} UNION ALL SELECT v FROM e{i}
        ) GROUP BY node
    ), alive{i} AS (
        SELECT node FROM d{i} WHERE deg >= {k}
    )""")
        stats.append(f"""
    SELECT CAST({i} AS BIGINT) AS round,
           CAST((SELECT COUNT(*) FROM alive{i}) AS BIGINT) AS n_alive,
           CAST((SELECT COUNT(*) FROM e{i}) AS BIGINT) AS n_edges_in,
           CAST((SELECT COALESCE(SUM(node), 0) FROM alive{i}) AS BIGINT)
               AS alive_id_sum""")
    return "WITH " + ", ".join(ctes) + " UNION ALL ".join(stats)


@declared("q_kcore", oracle=_kcore_oracle())
def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition by iterative PEELING — the fifth graph
    primitive after min-label (components), weighted sum (PageRank),
    argmax majority (label prop), and min-plus (BFS): here the feedback
    is node REMOVAL — each round recomputes degrees over the subgraph
    induced by survivors and drops nodes under k={KCORE_K}, the dense-core
    extraction used for community seeding and influence pruning.
    {KCORE_ROUNDS} unrolled rounds (the bounded-iteration contract of the
    PR/BFS family; a full fixpoint adds the connected-components
    convergence guard); emits the per-round census (survivors, induced
    edges, id checksum).

    Engine-exactness: integer degrees and censuses only. Scale notes
    (100 TB): each round is two semi-joins of the edge list against the
    shrinking survivor set (broadcast once survivors fit; bucketed
    co-location otherwise) + one map-side-combined degree count — the
    PageRank shuffle shape; the edge list itself is the shared persisted
    day-1 graph, scanned but never reshuffled (survivor sets join on the
    same keys every round)."""

    edges, deg = day1_cooccurrence_graph(spark, sf_dir)
    alive = deg.select("node")
    outs = []
    for i in range(1, KCORE_ROUNDS + 1):
        # survivor set ≤ |V| — broadcast it so the induced-subgraph filter
        # is a map-side hash semi-join and the edge list never reshuffles
        # (34 s → ~8 s first-run at sf0.1; at 100 TB swap to a bucketed
        # co-located join once survivors outgrow broadcast).
        # localCheckpoint (the components.py idiom), NOT persist: e_i is
        # referenced twice by d_i and alive twice by e_{i+1}, so an
        # un-truncated lineage quadruples per round — the round-3 plan
        # STRING alone OOMs a default-heap driver session.
        e_i = (
            edges.join(
                F.broadcast(alive.withColumnRenamed("node", "u")), "u", "left_semi"
            )
            .join(
                F.broadcast(alive.withColumnRenamed("node", "v")), "v", "left_semi"
            )
            .localCheckpoint(eager=False)
        )
        d_i = (
            e_i.select(F.col("u").alias("node"))
            .unionAll(e_i.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count("*").cast("bigint").alias("deg"))
        )
        alive = (
            d_i.filter(F.col("deg") >= KCORE_K)
            .select("node")
            .localCheckpoint(eager=False)
        )
        outs.append(
            alive.agg(
                F.lit(i).cast("bigint").alias("round"),
                F.count("*").cast("bigint").alias("n_alive"),
                F.coalesce(F.sum("node"), F.lit(0))
                .cast("bigint")
                .alias("alive_id_sum"),
            ).crossJoin(
                F.broadcast(
                    e_i.agg(F.count("*").cast("bigint").alias("n_edges_in"))
                )
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionAll(o)
    return res.select("round", "n_alive", "n_edges_in", "alive_id_sum")


# --------------------------------------------------------------------------
# SCC seeds: bounded-round forward/backward min-label on a temporal digraph
# --------------------------------------------------------------------------

SCC_ROUNDS = 3

_SCC_GRAPH_CTE = """fe AS (
        SELECT date_trunc('hour', ts) AS h, user_id, MIN(epoch_us(ts)) AS fts
        FROM events WHERE ts < TIMESTAMP '2024-01-02 00:00:00'
        GROUP BY 1, 2
    ), de AS (
        SELECT DISTINCT a.user_id AS src, b.user_id AS dst
        FROM fe a JOIN fe b ON a.h = b.h
        WHERE (a.fts, a.user_id) < (b.fts, b.user_id)
    ), nodes AS (
        SELECT src AS node FROM de UNION SELECT dst FROM de
    )"""


def _scc_oracle() -> str:
    ctes = [
        _SCC_GRAPH_CTE,
        "f0 AS (SELECT node, node AS lbl FROM nodes)",
        "b0 AS (SELECT node, node AS lbl FROM nodes)",
    ]
    for i in range(1, SCC_ROUNDS + 1):
        ctes.append(f"""f{i} AS (
        SELECT n.node, LEAST(n.lbl, COALESCE(MIN(p.lbl), n.lbl)) AS lbl
        FROM f{i - 1} n LEFT JOIN de e ON e.dst = n.node
                        LEFT JOIN f{i - 1} p ON p.node = e.src
        GROUP BY n.node, n.lbl
    )""")
        ctes.append(f"""b{i} AS (
        SELECT n.node, LEAST(n.lbl, COALESCE(MIN(p.lbl), n.lbl)) AS lbl
        FROM b{i - 1} n LEFT JOIN de e ON e.src = n.node
                        LEFT JOIN b{i - 1} p ON p.node = e.dst
        GROUP BY n.node, n.lbl
    )""")
    k = SCC_ROUNDS
    return f"""
    WITH {", ".join(ctes)}, s AS (
        SELECT f{k}.node, f{k}.lbl
        FROM f{k} JOIN b{k} ON f{k}.node = b{k}.node AND f{k}.lbl = b{k}.lbl
    )
    SELECT CAST(lbl AS BIGINT) AS scc_seed,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(SUM(node) AS BIGINT) AS member_id_sum
    FROM s GROUP BY lbl HAVING COUNT(*) >= 2
    UNION ALL
    SELECT CAST(-1 AS BIGINT),
           CAST((SELECT COUNT(*) FROM nodes) - (SELECT COUNT(*) FROM s)
                AS BIGINT),
           CAST((SELECT COUNT(*) FROM nodes) AS BIGINT)
"""


@declared("q_scc", oracle=_scc_oracle())
def q_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strongly-connected-component SEEDS on a genuinely DIRECTED graph —
    the sixth graph primitive (min-label CC, weighted-sum PageRank, argmax
    label-prop, min-plus BFS, removal-feedback k-core, and now BIDIRECTIONAL
    reachability agreement). The digraph is temporal: u→v when u's first
    event in an hour precedes v's in the same hour (strict (first_ts, id)
    total order — acyclic within an hour, cycles form ACROSS hours, which
    is what makes SCC non-trivial here; the symmetrized day-1 graph would
    reduce SCC to plain CC).

    Semantics ({SCC_ROUNDS} unrolled rounds, the bounded-iteration contract
    of the PR/BFS/k-core family): F(v) = min id with a ≤{SCC_ROUNDS}-hop
    path TO v, B(v) = min id reachable FROM v in ≤{SCC_ROUNDS} hops; a node
    with F(v)=B(v)=m is mutually reachable with m, hence provably in
    SCC(m) — each reported group is a certified SCC subset around its seed
    (at sf0.01: one 130-node SCC out of 134 nodes settles in 3 rounds).
    Output: per-seed census (≥2 members) + one summary row (seed −1:
    unsettled count, total nodes).

    Engine-exactness: integer ids, MIN/LEAST propagation (associative,
    order-free), integer censuses. Plan shape (100 TB): the edge list
    builds once (first-event agg + one hour-blocked self-join) and is
    persisted src-partitioned; each round is one edge-label equi-join +
    one map-side-combined MIN per direction — the Pregel shuffle shape,
    2·{SCC_ROUNDS} rounds, label tables are |V|-sized (never edges)."""
    t = load_tables(spark, sf_dir)
    fe = (
        t.events.filter(F.col("ts") < F.expr("TIMESTAMP '2024-01-02 00:00:00'"))
        .groupBy(F.date_trunc("hour", "ts").alias("h"), "user_id")
        .agg(
            F.min(
                F.expr(
                    "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
                )
            ).alias("fts")
        )
    )
    a_, b_ = fe.alias("a"), fe.alias("b")
    de = (
        a_.join(
            b_,
            (F.col("a.h") == F.col("b.h"))
            & (
                (F.col("a.fts") < F.col("b.fts"))
                | (
                    (F.col("a.fts") == F.col("b.fts"))
                    & (F.col("a.user_id") < F.col("b.user_id"))
                )
            ),
        )
        .select(F.col("a.user_id").alias("src"), F.col("b.user_id").alias("dst"))
        .distinct()
        .repartition(F.col("src"))
        .persist()
    )
    nodes = (
        de.select(F.col("src").alias("node"))
        .union(de.select("dst"))
        .distinct()
        .persist()
    )

    def propagate(edge_from: str, edge_to: str) -> DataFrame:
        lbl = nodes.select("node", F.col("node").alias("lbl"))
        for _ in range(SCC_ROUNDS):
            inmin = (
                de.join(
                    lbl.select(F.col("node").alias(edge_from), F.col("lbl").alias("plbl")),
                    edge_from,
                )
                .groupBy(F.col(edge_to).alias("node"))
                .agg(F.min("plbl").alias("m"))
            )
            # localCheckpoint, not persist: each round references the
            # previous round's frame twice (inmin join + merge base), so
            # an un-truncated lineage doubles per round per direction —
            # the q_kcore/components plan-growth hazard.
            lbl = (
                lbl.join(inmin, "node", "left")
                .select(
                    "node",
                    F.least("lbl", F.coalesce("m", "lbl")).alias("lbl"),
                )
                .localCheckpoint(eager=False)
            )
        return lbl

    f = propagate("src", "dst")  # F: min id that REACHES v (in-edges)
    b = propagate("dst", "src")  # B: min id v REACHES (out-edges)
    s = f.join(
        b.select("node", F.col("lbl").alias("blbl")), "node"
    ).filter(F.col("lbl") == F.col("blbl")).persist()
    groups = (
        s.groupBy(F.col("lbl").cast("bigint").alias("scc_seed"))
        .agg(
            F.count("*").cast("bigint").alias("n_members"),
            F.sum("node").cast("bigint").alias("member_id_sum"),
        )
        .filter(F.col("n_members") >= 2)
    )
    summary = (
        nodes.agg(F.count("*").cast("bigint").alias("n_nodes"))
        .crossJoin(F.broadcast(s.agg(F.count("*").cast("bigint").alias("n_settled"))))
        .select(
            F.lit(-1).cast("bigint").alias("scc_seed"),
            (F.col("n_nodes") - F.col("n_settled")).alias("n_members"),
            F.col("n_nodes").alias("member_id_sum"),
        )
    )
    return groups.unionAll(summary)


# --------------------------------------------------------------------------
# q_cc_incr — incremental connected components: near-dup clusters
# maintained under a delta-edge batch by SEEDED min-label propagation
# --------------------------------------------------------------------------


def _cc_incr_oracle() -> str:
    """Merged-graph CC (the REBUILD — the recursive-CTE transitive closure,
    orthogonal to Spark's seeded iterative propagation, so the hash gate IS
    the maintenance==rebuild proof) plus the base-graph CC for the changed
    flag. Edges replay dedup_near_minhash exactly (the clusters_oracle
    construction)."""
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
