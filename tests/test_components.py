"""Connected components / cluster collapse / IVF recall / SCC tests."""

from collections import defaultdict

import duckdb
import pyspark.sql.functions as F

import duckdb_ner_spark.operators  # noqa: F401 — populate the registry
from duckdb_ner_spark.plans.registry import QUERIES
from tests.conftest import SF_SMOKE


def test_release_checkpoint_of_an_uncheckpointed_frame(spark):
    """Releasing a frame that was never checkpointed neither raises nor
    breaks the frame."""
    from duckdb_ner_spark.operators.components import _release_checkpoint

    df = spark.range(5)
    _release_checkpoint(df)
    assert df.count() == 5


def test_connected_components_chain_and_triangle(spark):
    from duckdb_ner_spark.operators.components import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (11, 12), (10, 12), (20, 21)],
        ["doc_a", "doc_b"],
    )
    comps = {r.node: r.comp for r in connected_components(pairs).collect()}
    assert comps == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_long_chain_exceeds_round_budget(spark):
    """Pin the documented limit (components.py module header): min-label
    propagation moves labels ONE HOP per round, so a planted path graph of
    diameter > max_iter must raise the convergence error — never silently
    return wrong labels. The same chain within budget must converge to the
    chain head."""
    import pytest

    from duckdb_ner_spark.operators.components import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], ["doc_a", "doc_b"]
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=3)

    comps = {r.node: r.comp for r in connected_components(chain, max_iter=10).collect()}
    assert comps == {i: 0 for i in range(9)}


def test_collapse_near_dups_keeps_representatives(spark):
    from duckdb_ner_spark.operators.components import collapse_near_dups

    df = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(6)], ["doc_id", "text"]
    )
    pairs = spark.createDataFrame([(0, 1), (1, 2), (4, 5)], ["doc_a", "doc_b"])
    kept = sorted(r.doc_id for r in collapse_near_dups(df, pairs).collect())
    # clusters {0,1,2} -> keep 0; {4,5} -> keep 4; singleton 3 passes through
    assert kept == [0, 3, 4]


def test_collapse_on_real_corpus_reduces(spark):
    from duckdb_ner_spark.operators.components import collapse_near_dups
    from duckdb_ner_spark.operators.dedup import dedup_near_minhash

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    pairs = dedup_near_minhash(docs, threshold=0.9).select("doc_a", "doc_b")
    n_pairs = pairs.count()
    kept = collapse_near_dups(docs, pairs)
    assert n_pairs > 0
    assert kept.count() < docs.count()
    assert kept.count() >= docs.count() - n_pairs  # at most one removal per pair


def test_ivf_topk_recall_vs_exact(spark):
    from duckdb_ner_spark.operators.similarity import ivf_topk, topk_cosine

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    q = list(emb.filter(F.col("vec_id") == 0).head().embedding)
    rest = emb.filter(F.col("vec_id") != 0)
    exact = [r.vec_id for r in topk_cosine(rest, q, 10).collect()]
    approx = [r.vec_id for r in ivf_topk(rest, q, 10, n_probe=3).collect()]
    # ANN contract: results are a subset of the data, ranked by true cosine,
    # with nonzero overlap against exact top-10 at 3 probes
    assert len(approx) == 10
    assert len(set(approx) & set(exact)) >= 3


def test_ivf_kmeans_recovers_separable_clusters(spark):
    """Spherical Lloyd training on 3 well-separated DIRECTIONAL clusters must
    place one centroid per cluster (assignment == ground-truth membership)
    and each trained centroid must align with its cluster's mean direction —
    i.e. the training is real spherical k-means, not a data-subset stand-in.
    (r4: the index became cosine-consistent — spherical k-means on
    L2-normalized vectors — so the ground truth is directions, not offsets;
    the pre-r4 L2 version of this test put one cluster AT the origin, where
    direction is undefined.)"""
    import math

    from duckdb_ner_spark.operators.similarity import (
        _l2_normalize,
        ivf_assign,
        train_ivf_centroids,
    )

    # 3 directional clusters of 20 vectors around orthogonal-ish anchors,
    # varied magnitudes (cosine must ignore them), deterministic jitter
    anchors = [(1.0, 0.1), (0.1, 1.0), (-1.0, 0.8)]
    rows = []
    vid = 0
    for ax, ay in anchors:
        for j in range(20):
            mag = 0.5 + (j % 4) * 2.0  # magnitudes 0.5..6.5
            rows.append(
                (vid, [mag * (ax + (j % 5) * 0.02), mag * (ay + (j % 7) * 0.02)])
            )
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id INT, embedding ARRAY<FLOAT>")

    cents = train_ivf_centroids(emb, k=3, n_iter=3)
    assigned = {r.vec_id: r.cent_id for r in ivf_assign(emb, centroids=cents).collect()}
    # one centroid per ground-truth cluster, no splits/merges
    groups = [set(assigned[v] for v in range(s, s + 20)) for s in (0, 20, 40)]
    assert all(len(g) == 1 for g in groups)
    assert len(set().union(*groups)) == 3
    # each trained centroid is unit-norm and within ~8° of its cluster's
    # mean direction (jitter shifts the true mean slightly off the anchor)
    for g, (ax, ay) in zip(groups, anchors):
        cx, cy = cents[g.pop()]
        assert abs(math.hypot(cx, cy) - 1.0) < 1e-6
        ux, uy = _l2_normalize([ax, ay])
        assert cx * ux + cy * uy > math.cos(math.radians(8)), ((cx, cy), (ux, uy))


def _clustered_corpus(seed: int, n_clusters: int = 8, per: int = 40, dim: int = 16):
    """Deterministic directional clusters on the unit sphere — no RNG.
    Anchors are pseudo-random unit vectors derived from integer mixing;
    members add a small deterministic jitter. Different ``seed`` values give
    genuinely different anchor layouts and jitter patterns."""
    import math

    def anchor(j):
        raw = [((j * 31 + i * 17 + seed * 57) % 13) - 6 for i in range(dim)]
        n = math.sqrt(sum(v * v for v in raw)) or 1.0
        return [v / n for v in raw]

    rows = []
    vid = 0
    for j in range(n_clusters):
        a = anchor(j)
        for m in range(per):
            jit = [(((m * 7 + i * 11 + j * 3 + seed) % 9) - 4) / 40.0 for i in range(dim)]
            rows.append((vid, j, [a[i] + jit[i] for i in range(dim)]))
            vid += 1
    return rows


def test_ivf_recall_at_5_trained_centroids_three_seeds(spark):
    """Thresholded ANN quality gate (VERDICT r3 #7): q_sim_ivf/q_sim_ann are
    rows-only forever (sketch internals have no SQL twin), so recall IS the
    correctness metric. On corpora that HAVE cosine cluster structure (the
    regime an IVF index exists for), trained spherical centroids must give
    recall@5 ≥ 0.8 vs exact cosine top-5 at n_probe=2 of 8 cells, for every
    one of three deterministic seeds (distinct anchor layouts + jitter).
    The engine's real testdata embeddings are near-uniform on the sphere
    (cell-label purity ≈ chance), where no index can beat the
    probed-fraction floor — that regime is covered by the slice test below."""
    from duckdb_ner_spark.operators.similarity import ivf_topk, topk_cosine

    for seed in (1, 2, 3):
        rows = _clustered_corpus(seed)
        # hold out one member of cluster 2 as the query
        qrow = next(r for r in rows if r[1] == 2)
        corpus = [(vid, emb) for vid, c, emb in rows if vid != qrow[0]]
        df = spark.createDataFrame(corpus, "vec_id INT, embedding ARRAY<FLOAT>")
        exact = [r.vec_id for r in topk_cosine(df, qrow[2], 5).collect()]
        approx = [r.vec_id for r in ivf_topk(df, qrow[2], 5, n_probe=2).collect()]
        hits = len(set(approx) & set(exact))
        assert hits >= 4, f"seed={seed}: recall@5={hits}/5"


def test_ivf_shortlist_is_exact_within_probed_cells(spark):
    """On the REAL testdata embeddings (near-uniform — no recall floor can
    hold), the index contract is mechanical: for three query/corpus-slice
    cases, ivf_topk must return exactly the cosine top-k of the union of
    probed cells (no vector in a probed cell may be skipped, no unprobed
    vector may appear)."""
    from duckdb_ner_spark.operators.similarity import (
        _l2_normalize,
        ivf_assign,
        ivf_topk,
        topk_cosine,
        train_ivf_centroids,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    for qid, residue in [(0, 0), (17, 1), (42, 2)]:
        q = [float(v) for v in emb.filter(F.col("vec_id") == qid).head().embedding]
        corpus = emb.filter((F.col("vec_id") != qid) & (F.col("vec_id") % 3 != residue))
        cents = train_ivf_centroids(corpus)
        assigned = ivf_assign(corpus, centroids=cents)
        qn = _l2_normalize(q)
        scores = [
            (sum(x * c for x, c in zip(qn, cv)) - sum(c * c for c in cv) / 2.0, cid)
            for cid, cv in enumerate(cents)
        ]
        probe = {cid for _, cid in sorted(scores, key=lambda t: (-t[0], t[1]))[:3]}
        shortlist = assigned.filter(F.col("cent_id").isin(list(probe))).select(
            "vec_id", "embedding"
        )
        want = [r.vec_id for r in topk_cosine(shortlist, q, 5).collect()]
        got = [r.vec_id for r in ivf_topk(corpus, q, 5, n_probe=3).collect()]
        assert got == want, (qid, residue, got, want)


def test_triangle_stats_on_planted_graphs(spark):
    """triangle_stats (degree-oriented counting): K4 has 4 triangles and
    clustering 1.0; a path graph has 0 triangles; K4 plus a pendant vertex
    keeps exactly the 4 triangles."""
    from duckdb_ner_spark.operators.components import triangle_stats

    def run(edges):
        df = spark.createDataFrame(edges, ["u", "v"])
        return triangle_stats(df).collect()[0]

    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    r = run(k4)
    assert (r.n_nodes, r.n_edges, r.n_triangles) == (4, 6, 4)
    assert r.clustering_coeff == 1.0

    path = [(1, 2), (2, 3), (3, 4), (4, 5)]
    r = run(path)
    assert (r.n_nodes, r.n_edges, r.n_triangles) == (5, 4, 0)
    assert r.clustering_coeff == 0.0

    r = run(k4 + [(4, 5)])
    assert (r.n_nodes, r.n_edges, r.n_triangles) == (5, 7, 4)


def test_scc_groups_are_certified_mutually_reachable(spark):
    """Semantic pin, independent of the label-propagation implementation:
    rebuild the temporal digraph in Python, check (a) the reported groups
    equal a pure-Python 3-round F/B min-label recompute, and (b) every
    reported member is REALLY mutually reachable with its seed within 3
    hops (the certification the operator claims)."""
    con = duckdb.connect()
    edges = con.execute(
        "WITH fe AS (SELECT date_trunc('hour', ts) AS h, user_id, "
        "            MIN(epoch_us(ts)) AS fts "
        f"           FROM '{SF_SMOKE}/events.parquet' "
        "            WHERE ts < TIMESTAMP '2024-01-02 00:00:00' GROUP BY 1,2) "
        "SELECT DISTINCT a.user_id, b.user_id FROM fe a JOIN fe b "
        "ON a.h = b.h WHERE (a.fts, a.user_id) < (b.fts, b.user_id)"
    ).fetchall()
    out_adj, in_adj = defaultdict(set), defaultdict(set)
    nodes = set()
    for s, t in edges:
        out_adj[s].add(t)
        in_adj[t].add(s)
        nodes.update((s, t))

    def prop(adj):
        lbl = {v: v for v in nodes}
        for _ in range(3):
            lbl = {
                v: min([lbl[v]] + [lbl[u] for u in adj[v]]) for v in nodes
            }
        return lbl

    f, b = prop(in_adj), prop(out_adj)
    settled = {v: f[v] for v in nodes if f[v] == b[v]}
    groups = defaultdict(list)
    for v, m in settled.items():
        groups[m].append(v)
    expected = {
        m: (len(vs), sum(vs)) for m, vs in groups.items() if len(vs) >= 2
    }
    expected[-1] = (len(nodes) - len(settled), len(nodes))
    got = {
        r.scc_seed: (r.n_members, r.member_id_sum)
        for r in QUERIES["q_scc"](spark, SF_SMOKE).collect()
    }
    assert got == expected

    def reach(src, adj, k=3):
        seen = {src}
        frontier = {src}
        for _ in range(k):
            frontier = {w for u in frontier for w in adj[u]} - seen
            seen |= frontier
        return seen

    for v, m in settled.items():
        if v != m:
            assert v in reach(m, out_adj), (m, v)
            assert m in reach(v, out_adj), (v, m)


def test_kcore_matches_python_recompute(spark):
    """q_kcore vs a pure-Python peel over the same day-1 edge list."""
    from duckdb_ner_spark.operators.components import day1_cooccurrence_graph
    from duckdb_ner_spark.operators.components import KCORE_K, KCORE_ROUNDS

    edges, _ = day1_cooccurrence_graph(spark, SF_SMOKE)
    es = [(r.u, r.v) for r in edges.collect()]
    alive = {n for e in es for n in e}
    expect = []
    for i in range(1, KCORE_ROUNDS + 1):
        ei = [(u, v) for u, v in es if u in alive and v in alive]
        deg: dict[int, int] = {}
        for u, v in ei:
            deg[u] = deg.get(u, 0) + 1
            deg[v] = deg.get(v, 0) + 1
        alive = {n for n, d in deg.items() if d >= KCORE_K}
        expect.append((i, len(alive), len(ei), sum(alive)))
    got = [
        (r.round, r.n_alive, r.n_edges_in, r.alive_id_sum)
        for r in QUERIES["q_kcore"](spark, SF_SMOKE)
        .orderBy("round")
        .collect()
    ]
    assert got == expect
    # peeling must actually remove something on this graph
    assert expect[-1][1] < len({n for e in es for n in e})
