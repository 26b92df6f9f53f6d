"""Round-7 batch-d operator tests: pure-Python recomputes for feature
hashing, posting-list compression, skip-gram extraction, and JL random
projection, pinning each query's semantics with a third implementation
independent of both Spark and the DuckDB oracle.
"""

from collections import Counter, defaultdict
from hashlib import md5

import duckdb_ner_spark.operators  # noqa: F401 — populate the registry
from duckdb_ner_spark.plans.registry import QUERIES

SF_SMOKE = "/root/testdata/sf0.001"


def _h60(arg: str) -> int:
    return int(md5(arg.encode()).hexdigest()[:15], 16)


def test_feature_hashing_matches_python_recompute(spark):
    """Hashing-trick vectors rebuilt cell by cell: signed sums per bucket,
    collision count = distinct words minus occupied cells."""
    from duckdb_ner_spark.operators.sketches import FH_D

    docs = (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    )
    want = {}
    for r in docs:
        cells = defaultdict(int)
        cell_words = defaultdict(set)
        for w in r.text.split(" "):
            hv = _h60(f"fh|{w}")
            idx = hv % FH_D
            cells[idx] += 1 if (hv >> 59) & 1 == 0 else -1
            cell_words[idx].add(w)
        nnz = len(cells)
        want[r.doc_id] = (
            nnz,
            sum(abs(v) for v in cells.values()),
            max(abs(v) for v in cells.values()),
            sum(len(s) for s in cell_words.values()) - nnz,
            sum((i + 1) * v for i, v in cells.items()),
        )
    got = {
        r.doc_id: (r.nnz, r.l1, r.linf, r.collisions, r.vec_checksum)
        for r in QUERIES["q_feature_hashing"](spark, SF_SMOKE).collect()
    }
    assert got == want
    # the smoke corpus has a 31-word vocab vs FH_D=256 buckets, so no two
    # words collide: collisions must be identically 0 and nnz bounded by D
    assert all(v[3] == 0 for v in want.values())
    assert all(v[0] <= FH_D for v in want.values())


def test_postings_compression_matches_python_recompute(spark):
    """Delta/vbyte costs recomputed from sorted distinct postings with
    Python int.bit_length (== LENGTH(bin(x)) on positives)."""
    from duckdb_ner_spark.operators.retrieval import PL_TOP

    docs = (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    )
    postings = defaultdict(set)
    for r in docs:
        for w in set(r.text.split(" ")):
            postings[w].add(r.doc_id)
    want = {}
    for term, ids in postings.items():
        ps = sorted(ids)
        gaps = [ps[0] + 1] + [b - a for a, b in zip(ps, ps[1:])]
        bits = [g.bit_length() for g in gaps]
        df = len(ps)
        delta = sum(bits)
        want[term] = (
            df,
            64 * df,
            delta,
            sum((b + 6) // 7 for b in bits),
            (64 * df - delta) * 10000 // (64 * df),
        )
    order = sorted(want, key=lambda t: (-want[t][0], t))[:PL_TOP]
    got = QUERIES["q_postings_compression"](spark, SF_SMOKE).collect()
    assert [r.term for r in got] == order
    for r in got:
        assert (r.df, r.raw_bits, r.delta_bits, r.vbyte_bytes, r.savings_bp) == want[
            r.term
        ]
        assert r.delta_bits < r.raw_bits  # compression always wins here


def test_skipgram_matches_python_recompute(spark):
    """Skip-gram pairs regenerated positionally (the imperative double
    loop the query expresses array-side)."""
    from duckdb_ner_spark.operators.trainprep import SG_TOP, SG_WINDOW

    docs = (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    )
    n_pairs = Counter()
    doc_support = defaultdict(set)
    for r in docs:
        ws = r.text.split(" ")
        for i, c in enumerate(ws):
            for j in range(max(0, i - SG_WINDOW), min(len(ws), i + SG_WINDOW + 1)):
                if j != i:
                    n_pairs[(c, ws[j])] += 1
                    doc_support[(c, ws[j])].add(r.doc_id)
    order = sorted(n_pairs, key=lambda p: (-n_pairs[p], p))[:SG_TOP]
    got = QUERIES["q_skipgram"](spark, SF_SMOKE).collect()
    assert [(r.center, r.context) for r in got] == order
    for r in got:
        assert r.n_pairs == n_pairs[(r.center, r.context)]
        assert r.n_docs == len(doc_support[(r.center, r.context)])


def test_random_projection_matches_python_recompute(spark):
    """JL projection recomputed with the same hash-derived sign matrix in
    exact integer arithmetic; ratios must concentrate near the JL
    expectation (scale factor RP_RATIO_SCALE)."""
    from duckdb_ner_spark.operators.retrieval import RP_FX, RP_K, RP_RATIO_SCALE

    from decimal import ROUND_HALF_EVEN, Decimal

    vecs = (
        spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
        .select("vec_id", "embedding")
        .collect()
    )
    signs = {}

    def sgn(i: int, j: int) -> int:
        if (i, j) not in signs:
            signs[(i, j)] = 1 if _h60(f"rp|{i}|{j}") & 1 == 0 else -1
        return signs[(i, j)]

    want = {}
    for r in vecs:
        q = [
            int(
                (Decimal(repr(float(e))) * RP_FX).quantize(
                    Decimal("1"), rounding=ROUND_HALF_EVEN
                )
            )
            for e in r.embedding
        ]
        orig = sum(x * x for x in q)
        proj = sum(
            sum(sgn(i, j) * q[j] for j in range(len(q))) ** 2 for i in range(RP_K)
        )
        want[r.vec_id] = (orig, proj, proj * RP_RATIO_SCALE // (RP_K * orig))
    got = {
        r.vec_id: (r.orig_sq, r.proj_sq, r.ratio_fx)
        for r in QUERIES["q_random_projection"](spark, SF_SMOKE).collect()
    }
    assert got == want
    ratios = [v[2] for v in want.values()]
    mean = sum(ratios) / len(ratios)
    assert 0.7 * RP_RATIO_SCALE < mean < 1.3 * RP_RATIO_SCALE


def test_ks_drift_matches_python_recompute(spark):
    """KS numerators rebuilt from explicit ECDF step functions per source."""
    docs = (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .select("source", "n_chars")
        .collect()
    )
    by_src = defaultdict(list)
    for r in docs:
        by_src[r.source].append(r.n_chars)
    all_lens = sorted({r.n_chars for r in docs})
    n_all = len(docs)
    want = {}
    for s, lens in by_src.items():
        n_s = len(lens)
        n_rest = n_all - n_s
        rest = [r.n_chars for r in docs if r.source != s]
        num = max(
            abs(
                sum(1 for x in lens if x <= v) * n_rest
                - sum(1 for x in rest if x <= v) * n_s
            )
            for v in all_lens
        )
        want[s] = (n_s, n_rest, num, num * 10000 // (n_s * n_rest))
    got = {
        r.source: (r.n_s, r.n_rest, r.ks_num, r.ks_bp)
        for r in QUERIES["q_ks_drift"](spark, SF_SMOKE).collect()
    }
    assert got == want


def test_auc_matches_python_recompute(spark):
    """Mann-Whitney 2U rebuilt by brute-force pair comparison per label;
    AUC over a label-independent score must hover near 5000 bp."""
    from decimal import ROUND_HALF_EVEN, Decimal

    from duckdb_ner_spark.operators.stats import AUC_FX

    vecs = (
        spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
        .select("label", "embedding")
        .collect()
    )
    scored = [
        (
            r.label,
            int(
                (Decimal(repr(float(r.embedding[0]))) * AUC_FX).quantize(
                    Decimal("1"), rounding=ROUND_HALF_EVEN
                )
            ),
        )
        for r in vecs
    ]
    want = {}
    for lab in sorted({l for l, _ in scored}):
        pos = [v for l, v in scored if l == lab]
        neg = [v for l, v in scored if l != lab]
        u2 = sum(
            2 if p > n else (1 if p == n else 0) for p in pos for n in neg
        )
        want[lab] = (len(pos), len(neg), u2, u2 * 10000 // (2 * len(pos) * len(neg)))
    got = {
        r.label: (r.n_pos, r.n_neg, r.u2, r.auc_bp)
        for r in QUERIES["q_auc"](spark, SF_SMOKE).collect()
    }
    assert got == want
    aucs = [v[3] for v in want.values()]
    assert all(2000 < a < 8000 for a in aucs)


def test_power_iteration_matches_python_recompute(spark):
    """Both unrolled iterates recomputed in exact Python int arithmetic
    (sign-split truncating division replicated with abs // y)."""
    from decimal import ROUND_HALF_EVEN, Decimal

    from duckdb_ner_spark.operators.components import PI_FX

    vecs = (
        spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
        .select("vec_id", "embedding")
        .collect()
    )
    qs = [
        [
            int(
                (Decimal(repr(float(e))) * PI_FX).quantize(
                    Decimal("1"), rounding=ROUND_HALF_EVEN
                )
            )
            for e in r.embedding
        ]
        for r in vecs
    ]
    d = len(qs[0])

    def sdiv(x: int, y: int) -> int:
        return -((-x) // y) if x < 0 else x // y

    gram = [[sum(q[i] * q[j] for q in qs) for j in range(d)] for i in range(d)]
    cs = [[sdiv(gram[i][j], PI_FX) for j in range(d)] for i in range(d)]
    w1 = [sum(cs[i]) * PI_FX for i in range(d)]
    m1 = max(max(abs(w) for w in w1) // PI_FX, 1)
    v1 = [sdiv(w, m1) for w in w1]
    w2 = [sum(cs[i][j] * v1[j] for j in range(d)) for i in range(d)]
    m2 = max(max(abs(w) for w in w2) // PI_FX, 1)
    v2 = [sdiv(w, m2) for w in w2]
    got = QUERIES["q_power_iteration"](spark, SF_SMOKE).collect()
    assert len(got) == d
    for r in got:
        assert r.n_vec == len(qs)
        assert r.v1_fx == v1[r.dim]
        assert r.v2_fx == v2[r.dim]
        assert r.delta_fx == abs(v2[r.dim] - v1[r.dim])
    # normalization invariant: iterate magnitudes stay near PI_FX
    assert max(abs(r.v2_fx) for r in got) <= 2 * PI_FX


def test_consistent_hash_matches_python_recompute(spark):
    """Ring successor assignment recomputed imperatively; the
    minimal-disruption property (old shards gain nothing) must hold."""
    from duckdb_ner_spark.operators.sketches import CH_SHARDS, CH_VNODES

    doc_ids = [
        r.doc_id
        for r in spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .select("doc_id")
        .collect()
    ]

    def ring(n):
        return sorted(
            (_h60(f"ring|{s}|{v}"), s)
            for s in range(n)
            for v in range(CH_VNODES)
        )

    def owner(r, pos):
        for pt, s in r:
            if pt >= pos:
                return s
        return r[0][1]

    rb, ra = ring(CH_SHARDS), ring(CH_SHARDS + 1)
    before = {d: owner(rb, _h60(f"doc|{d}")) for d in doc_ids}
    after = {d: owner(ra, _h60(f"doc|{d}")) for d in doc_ids}
    want = {}
    for s in range(CH_SHARDS + 1):
        want[s] = (
            sum(1 for d in doc_ids if before[d] == s),
            sum(1 for d in doc_ids if after[d] == s),
            sum(1 for d in doc_ids if before[d] == s and after[d] != s),
            sum(1 for d in doc_ids if after[d] == s and before[d] != s),
        )
    got = {
        r.shard: (r.n_before, r.n_after, r.lost, r.gained)
        for r in QUERIES["q_consistent_hash"](spark, SF_SMOKE).collect()
    }
    assert got == want
    assert all(want[s][3] == 0 for s in range(CH_SHARDS))  # no old shard gains
    assert want[CH_SHARDS][1] > 0  # the new shard takes real load


def test_merkle_matches_python_recompute(spark):
    """Roots recomputed bottom-up; a one-byte change in any doc must flip
    its source's root and only that root."""
    from duckdb_ner_spark.operators.sketches import MK_LEAVES

    docs = (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .select("source", "doc_id", "text")
        .collect()
    )

    def roots(rows):
        leaves = defaultdict(dict)
        counts = Counter()
        for src, did, text in rows:
            leaves[src].setdefault(did % MK_LEAVES, []).append(
                (did, md5(text.encode()).hexdigest())
            )
            counts[src] += 1
        out = {}
        for src, bks in leaves.items():
            lhs = {
                b: md5("".join(h for _, h in sorted(pairs)).encode()).hexdigest()
                for b, pairs in bks.items()
            }
            root = md5(
                "".join(lhs[b] for b in sorted(lhs)).encode()
            ).hexdigest()
            out[src] = (counts[src], len(lhs), root)
        return out

    rows = [(r.source, r.doc_id, r.text) for r in docs]
    want = roots(rows)
    got = {
        r.source: (r.n_docs, r.n_leaves, r.root)
        for r in QUERIES["q_merkle"](spark, SF_SMOKE).collect()
    }
    assert got == want
    # sensitivity: flip one document's text -> exactly one root changes
    mutated = [(s, d, t + "x") if d == rows[0][1] else (s, d, t) for s, d, t in rows]
    mroots = roots(mutated)
    changed = [s for s in want if mroots[s][2] != want[s][2]]
    assert changed == [rows[0][0]]


def test_moe_router_matches_python_recompute(spark):
    """Top-2 routing recomputed with exact integer dot products against the
    hash-derived expert prototypes; loads must sum to the full slot count."""
    from decimal import ROUND_HALF_EVEN, Decimal

    from duckdb_ner_spark.operators.trainprep import MOE_E, MOE_FX

    vecs = (
        spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
        .select("vec_id", "embedding")
        .collect()
    )
    stats = {
        e: [0, 0, 0] for e in range(MOE_E)
    }  # n_top1, n_top2, top1_mass
    for r in vecs:
        q = [
            int(
                (Decimal(repr(float(x))) * MOE_FX).quantize(
                    Decimal("1"), rounding=ROUND_HALF_EVEN
                )
            )
            for x in r.embedding
        ]
        scores = [
            (
                sum(
                    (1 if _h60(f"moe|{e}|{j}") & 1 == 0 else -1) * q[j]
                    for j in range(len(q))
                ),
                e,
            )
            for e in range(MOE_E)
        ]
        ordered = sorted(scores, key=lambda t: (-t[0], t[1]))
        (s1, e1), (_s2, e2) = ordered[0], ordered[1]
        stats[e1][0] += 1
        stats[e1][2] += s1
        stats[e2][1] += 1
    n = len(vecs)
    got = {
        r.expert: (r.n_top1, r.n_top2, r.top1_mass, r.load_bp)
        for r in QUERIES["q_moe_router"](spark, SF_SMOKE).collect()
    }
    want = {
        e: (v[0], v[1], v[2], (v[0] + v[1]) * 10000 // (2 * n))
        for e, v in stats.items()
        if v[0] + v[1] > 0
    }
    assert got == want
    assert sum(v[0] for v in want.values()) == n
    assert sum(v[1] for v in want.values()) == n


def test_emd_drift_matches_python_recompute(spark):
    """W1 numerators rebuilt as the explicit CDF-difference integral; KS
    max-deviation must upper-bound each per-point term."""
    docs = (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .select("source", "n_chars")
        .collect()
    )
    by_src = defaultdict(list)
    for r in docs:
        by_src[r.source].append(r.n_chars)
    support = sorted({r.n_chars for r in docs})
    vrange = support[-1] - support[0]
    n_all = len(docs)
    want = {}
    for s, lens in by_src.items():
        n_s, n_rest = len(lens), n_all - len(lens)
        rest = [r.n_chars for r in docs if r.source != s]
        num = 0
        for i, v in enumerate(support):
            gap = (support[i + 1] - v) if i + 1 < len(support) else 0
            num += (
                abs(
                    sum(1 for x in lens if x <= v) * n_rest
                    - sum(1 for x in rest if x <= v) * n_s
                )
                * gap
            )
        want[s] = (n_s, n_rest, num, num * 10000 // (n_s * n_rest * vrange))
    got = {
        r.source: (r.n_s, r.n_rest, r.w1_num, r.emd_bp)
        for r in QUERIES["q_emd_drift"](spark, SF_SMOKE).collect()
    }
    assert got == want


def test_modularity_matches_python_recompute(spark):
    """Per-community modularity contributions recomputed from the raw
    graph with an imperative label-propagation replay; contributions must
    sum to a Q consistent with the cleared-denominator identity."""
    from duckdb_ner_spark.operators.components import LP_ITERS, LP_N_LABELS, LP_SEED_MOD
    from duckdb_ner_spark.operators.components import MOD_SCALE
    from duckdb_ner_spark.operators.components import day1_cooccurrence_graph

    edges_df, _ = day1_cooccurrence_graph(spark, SF_SMOKE)
    edges = [(r.u, r.v) for r in edges_df.collect()]
    nodes = sorted({n for e in edges for n in e})
    neigh = defaultdict(list)
    for u, v in edges:
        neigh[u].append(v)
        neigh[v].append(u)
    lbl = {n: (n % LP_N_LABELS if n % LP_SEED_MOD == 0 else None) for n in nodes}
    for _ in range(LP_ITERS):
        nxt = {}
        for n in nodes:
            if n % LP_SEED_MOD == 0:
                nxt[n] = n % LP_N_LABELS
                continue
            votes = Counter(
                lbl[m] for m in neigh[n] if lbl[m] is not None
            )
            nxt[n] = (
                sorted(votes, key=lambda l: (-votes[l], l))[0] if votes else lbl[n]
            )
        lbl = nxt
    comm = {n: (lbl[n] if lbl[n] is not None else -1) for n in nodes}
    m = len(edges)
    want = {}
    for c in sorted(set(comm.values())):
        members = [n for n in nodes if comm[n] == c]
        m_c = sum(1 for u, v in edges if comm[u] == c and comm[v] == c)
        d_c = sum(len(neigh[n]) for n in members)
        num = (4 * m * m_c - d_c * d_c) * MOD_SCALE
        den = 4 * m * m
        contrib = -((-num) // den) if num < 0 else num // den
        want[c] = (len(members), m_c, d_c, contrib)
    got = {
        r.community: (r.n_nodes, r.intra_edges, r.deg_sum, r.q_contrib_bp)
        for r in QUERIES["q_modularity"](spark, SF_SMOKE).collect()
    }
    assert got == want
    # degree-mass identity: sum of community degree masses = 2m
    assert sum(v[2] for v in want.values()) == 2 * m


def test_assortativity_matches_python_recompute(spark):
    """Degree-Pearson moments recomputed from the raw edge list; the
    symmetrized-formula result must equal scipy-free brute force."""
    from duckdb_ner_spark.operators.components import MOD_SCALE
    from duckdb_ner_spark.operators.components import day1_cooccurrence_graph

    edges_df, _ = day1_cooccurrence_graph(spark, SF_SMOKE)
    edges = [(r.u, r.v) for r in edges_df.collect()]
    deg = Counter()
    for u, v in edges:
        deg[u] += 1
        deg[v] += 1
    ends = [(deg[u], deg[v]) for u, v in edges] + [
        (deg[v], deg[u]) for u, v in edges
    ]
    m2 = len(ends)
    sx = sum(x for x, _ in ends)
    sxx = sum(x * x for x, _ in ends)
    sxy = sum(x * y for x, y in ends)
    num = (m2 * sxy - sx * sx) * MOD_SCALE
    den = max(m2 * sxx - sx * sx, 1)
    r_bp = -((-num) // den) if num < 0 else num // den
    [row] = QUERIES["q_assortativity"](spark, SF_SMOKE).collect()
    assert (row.n_edge_ends, row.sum_deg, row.sum_deg_sq, row.sum_xy) == (
        m2, sx, sxx, sxy,
    )
    assert row.assortativity_bp == r_bp
    assert -MOD_SCALE <= r_bp <= MOD_SCALE


def test_welch_ttest_matches_python_recompute(spark):
    """Integer moments recomputed exactly; the t statistic re-derived in
    Python doubles with the same evaluation order must agree to the ulp."""
    from decimal import ROUND_HALF_UP, Decimal

    rows = (
        spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        .select("user_id", "value")
        .collect()
    )
    spend = defaultdict(int)
    for r in rows:
        spend[r.user_id] += int(
            (Decimal(repr(r.value)) * 100).quantize(
                Decimal("1"), rounding=ROUND_HALF_UP
            )
        )
    arms = {0: [], 1: []}
    for uid, cents in spend.items():
        arms[uid % 2].append(cents)
    n0, n1 = len(arms[0]), len(arms[1])
    s0, s1 = sum(arms[0]), sum(arms[1])
    q0, q1 = sum(c * c for c in arms[0]), sum(c * c for c in arms[1])
    t = (s1 / n1 - s0 / n0) / (
        ((n1 * q1 - s1 * s1) / (n1 * (n1 - 1)) / n1
         + (n0 * q0 - s0 * s0) / (n0 * (n0 - 1)) / n0) ** 0.5
    )
    [row] = QUERIES["q_welch_ttest"](spark, SF_SMOKE).collect()
    assert (row.n0, row.s0, row.q0, row.n1, row.s1, row.q1) == (
        n0, s0, q0, n1, s1, q1,
    )
    assert row.t_stat == t
    assert row.significant == (1 if abs(t) > 1.96 else 0)


def test_cusum_matches_python_recompute(spark):
    """The recursive CUSUM S_i = max(0, S_{i-1} + x_i - k) recomputed
    imperatively must equal the query's prefix-min closed form."""
    from decimal import ROUND_HALF_UP, Decimal

    from duckdb_ner_spark.operators.stats import CUSUM_H_CENTS, CUSUM_K_CENTS

    def _cents(value: float) -> int:
        return int(
            (Decimal(repr(value)) * 100).quantize(
                Decimal("1"), rounding=ROUND_HALF_UP
            )
        )

    rows = (
        spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        .select("event_type", "ts", "event_id", "value")
        .collect()
    )
    by_type = defaultdict(list)
    for r in rows:
        by_type[r.event_type].append((r.ts, r.event_id, _cents(r.value)))
    want = {}
    for et, evs in by_type.items():
        evs.sort(key=lambda t: (t[0], t[1]))
        s, best, at = 0, 0, None
        for _, eid, cents in evs:
            s = max(0, s + cents - CUSUM_K_CENTS)
            if s > best:
                best, at = s, eid
        if at is None:  # all-zero path: peak at the first event
            at = evs[0][1]
        want[et] = (len(evs), best, at, 1 if best > CUSUM_H_CENTS else 0)
    got = {
        r.event_type: (r.n_events, r.max_cusum, r.at_event_id, r.alarm)
        for r in QUERIES["q_cusum"](spark, SF_SMOKE).collect()
    }
    assert got == want


def test_benford_matches_python_recompute(spark):
    """First-digit histogram recomputed exactly; the Benford table must
    sum to exactly 10000 bp and the uniform generator must deviate."""
    from decimal import ROUND_HALF_UP, Decimal

    from duckdb_ner_spark.operators.stats import BENFORD_BP

    assert sum(BENFORD_BP) == 10000
    rows = (
        spark.read.parquet(f"{SF_SMOKE}/events.parquet").select("value").collect()
    )
    digits = Counter()
    for r in rows:
        c = int(
            (Decimal(repr(r.value)) * 100).quantize(
                Decimal("1"), rounding=ROUND_HALF_UP
            )
        )
        if c > 0:
            digits[int(str(c)[0])] += 1
    n_all = sum(digits.values())
    got = {
        r.digit: (r.n, r.obs_bp, r.benford_bp, r.dev_bp)
        for r in QUERIES["q_benford"](spark, SF_SMOKE).collect()
    }
    assert set(got) == set(range(1, 10))
    for d in range(1, 10):
        n = digits.get(d, 0)
        obs = n * 10000 // n_all
        bb = BENFORD_BP[d - 1]
        assert got[d] == (n, obs, bb, abs(obs - bb))
    # this generator is near-Benford (multi-scale values): the audit
    # stays quiet, which is itself the meaningful reading
    assert max(v[3] for v in got.values()) < 1000


def test_chi2_independence_matches_python_recompute(spark):
    """Contingency contributions recomputed cell by cell; marginal
    identities must hold (sum of obs over the grid = N)."""
    docs = (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .select("lang", "source")
        .collect()
    )
    obs = Counter((r.lang, r.source) for r in docs)
    rt = Counter(r.lang for r in docs)
    ct = Counter(r.source for r in docs)
    n = len(docs)
    want = {}
    for lang in rt:
        for src in ct:
            o = obs.get((lang, src), 0)
            en = rt[lang] * ct[src]
            want[(lang, src)] = (o, en, (o * n - en) ** 2 // en)
    got = {
        (r.lang, r.source): (r.obs, r.exp_num, r.chi2_n_contrib)
        for r in QUERIES["q_chi2_independence"](spark, SF_SMOKE).collect()
    }
    assert got == want
    assert sum(v[0] for v in got.values()) == n
    assert len(got) == len(rt) * len(ct)


def test_stream_cusum_matches_batch(spark):
    """The streaming CUSUM (applyInPandasWithState, cross-batch state over
    the ordered file-source replay) must equal the batch q_cusum's
    prefix-min closed form EXACTLY — the stream/batch parity contract for
    an order-dependent statistic."""
    for sf_dir in (SF_SMOKE, "/root/testdata/sf0.01"):
        stream = {
            r.event_type: (r.n_events, r.max_cusum, r.at_event_id, r.alarm)
            for r in QUERIES["q_stream_cusum"](spark, sf_dir).collect()
        }
        batch = {
            r.event_type: (r.n_events, r.max_cusum, r.at_event_id, r.alarm)
            for r in QUERIES["q_cusum"](spark, sf_dir).collect()
        }
        assert stream == batch
        assert len(batch) >= 3  # the census actually covers the types


def test_stream_cusum_non_cent_parity(spark, tmp_path):
    """Stream/batch CUSUM parity on NON-CENT inputs (VERDICT r8 #4): both
    paths must evaluate the IDENTICAL in-plan ROUND(value*100) on the
    double product. Values like 64.085 are live traps — the double product
    6408.499999... rounds to 6408 while a Python-side Decimal(repr)*100
    HALF_UP re-round (the pre-r8b stream implementation) gives 6409; the
    shipped testdata is exact cents, so only a synthetic corpus exercises
    the divergence. The Decimal recompute is asserted to DISAGREE with the
    batch result, proving the test has teeth against the old bug."""
    import datetime
    from decimal import ROUND_HALF_UP, Decimal

    import pyarrow as pa
    import pyarrow.parquet as pq

    from duckdb_ner_spark.operators.stats import CUSUM_H_CENTS, CUSUM_K_CENTS

    # traps (double product just below .5) interleaved with exact cents and
    # agreeing .xx5 values; both event types get drifting sequences so the
    # CUSUM excursion is non-zero and the peak falls on a trap-rounded sum
    vals = [64.085, 70.00, 64.115, 59.50, 64.195, 64.225, 61.75, 64.335]
    rows = []
    eid = 0
    base = datetime.datetime(2024, 1, 1)
    for rep in range(3):
        for et in ("alpha", "beta"):
            for v in vals:
                rows.append(
                    (
                        eid,
                        base + datetime.timedelta(seconds=eid),
                        1,
                        et,
                        v if et == "alpha" else v + 0.33,
                        "{}",
                    )
                )
                eid += 1
    schema = pa.schema(
        [
            ("event_id", pa.int64()),
            ("ts", pa.timestamp("us")),
            ("user_id", pa.int64()),
            ("event_type", pa.string()),
            ("value", pa.float64()),
            ("props", pa.string()),
        ]
    )
    tbl = pa.Table.from_arrays(
        [pa.array([r[i] for r in rows], schema.field(i).type) for i in range(6)],
        schema=schema,
    )
    pq.write_table(tbl, str(tmp_path / "events.parquet"), version="2.6")
    sf_dir = str(tmp_path)

    stream = {
        r.event_type: (r.n_events, r.max_cusum, r.at_event_id, r.alarm)
        for r in QUERIES["q_stream_cusum"](spark, sf_dir).collect()
    }
    batch = {
        r.event_type: (r.n_events, r.max_cusum, r.at_event_id, r.alarm)
        for r in QUERIES["q_cusum"](spark, sf_dir).collect()
    }
    assert stream == batch
    assert len(batch) == 2
    assert any(v[1] > 0 for v in batch.values())  # non-trivial excursion

    # the old Decimal-quantizing stream would have produced THIS — and it
    # must differ, or the trap values stopped trapping
    def _dec_cents(v: float) -> int:
        return int(
            (Decimal(repr(v)) * 100).quantize(Decimal("1"), rounding=ROUND_HALF_UP)
        )

    by_type = defaultdict(list)
    for r in rows:
        by_type[r[3]].append((r[1], r[0], _dec_cents(r[4])))
    old_stream = {}
    for et, evs in by_type.items():
        evs.sort(key=lambda t: (t[0], t[1]))
        s, best, at = 0, 0, None
        for _, e, cents in evs:
            s = max(0, s + cents - CUSUM_K_CENTS)
            if s > best:
                best, at = s, e
        if at is None:
            at = evs[0][1]
        old_stream[et] = (len(evs), best, at, 1 if best > CUSUM_H_CENTS else 0)
    assert old_stream != batch
