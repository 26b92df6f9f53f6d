"""Round-12 operator tests: Gopher repetition battery, Bloom membership,
cluster-aware fold split, bigram vocab diff, z-order pruning benefit, int8
rank-displacement eval, RFM features.

Each query is hash-verified against its DuckDB oracle by the driver; these
tests pin the SEMANTICS with planted fixtures and independent pure-Python
recomputes on shipped testdata (the house test model, SURVEY §5).
"""

import hashlib
from collections import Counter

import duckdb
import pytest

import duckdb_ner_spark.operators  # noqa: F401 — populate the registry
from duckdb_ner_spark.operators.curation import FOLD_N
from duckdb_ner_spark.operators.layout_queries import (
    ZP_BITS,
    ZP_FILE_SHIFT,
    ZP_HI,
    ZP_LO,
)
from duckdb_ner_spark.operators.retrieval import RE_NQ
from duckdb_ner_spark.operators.sketches import BLM_BPK, BLM_K, BLM_PREFIX
from duckdb_ner_spark.operators.textstats import VD_TOPK
from duckdb_ner_spark.operators.trainprep import GR_DUP3_BP, GR_TOP2_BP
from duckdb_ner_spark.plans.registry import QUERIES

SF_SMOKE = "/root/testdata/sf0.001"


def _docs():
    con = duckdb.connect()
    return con.execute(
        f"SELECT doc_id, text, lang FROM '{SF_SMOKE}/documents.parquet'"
    ).fetchall()


# --------------------------------------------------------------------------
# q_gopher_repetition
# --------------------------------------------------------------------------


def _gopher_signals(text: str):
    ws = text.split(" ")
    nc = len(text)
    n_words = len(ws)
    n_distinct = len(set(ws))
    g2 = Counter(
        " ".join(ws[i : i + 2]) for i in range(len(ws) - 1)
    )
    g3 = Counter(
        " ".join(ws[i : i + 3]) for i in range(len(ws) - 2)
    )
    # argmax by (count desc, len desc, gram asc); single-word docs have
    # no 2-gram and get top2_bp = 0 (ADVICE r12: LEFT JOIN + COALESCE)
    if g2:
        top_g, top_c = min(
            g2.items(), key=lambda kv: (-kv[1], -len(kv[0]), kv[0])
        )
        top2_bp = 10000 * top_c * len(top_g) // nc
    else:
        top2_bp = 0
    dup_mass = sum(c * len(g) for g, c in g3.items() if c >= 2)
    dup3_bp = min(10000 * dup_mass // nc, 10000)
    rep_bp = 10000 * (n_words - n_distinct) // n_words
    keep = 1 if (top2_bp <= GR_TOP2_BP and dup3_bp <= GR_DUP3_BP) else 0
    return n_words, n_distinct, rep_bp, top2_bp, dup3_bp, keep


def test_gopher_matches_pure_python_recompute(spark):
    expect = {d: _gopher_signals(t) for d, t, _ in _docs()}
    rows = QUERIES["q_gopher_repetition"](spark, SF_SMOKE).collect()
    assert len(rows) == len(expect)
    for r in rows:
        e = expect[r["doc_id"]]
        got = (
            r["n_words"],
            r["n_distinct"],
            r["rep_bp"],
            r["top2_bp"],
            r["dup3_bp"],
            r["keep"],
        )
        assert got == e, (r["doc_id"], got, e)


def test_gopher_verdict_discriminates(spark):
    """The battery must actually split the corpus — a constant verdict
    column means the thresholds are miscalibrated for the testdata."""
    rows = QUERIES["q_gopher_repetition"](spark, SF_SMOKE).collect()
    kept = sum(r["keep"] for r in rows)
    assert 0 < kept < len(rows)


def test_gopher_single_word_doc_gets_a_verdict():
    """ADVICE r12 regression: a one-word doc has no 2-gram; it must still
    receive a verdict (top2_bp = 0, dup3_bp = 0, keep = 1) instead of
    being silently dropped by an inner join to the top-2-gram frame."""
    n_words, n_distinct, rep_bp, top2_bp, dup3_bp, keep = _gopher_signals(
        "lonely"
    )
    assert (n_words, n_distinct, rep_bp) == (1, 1, 0)
    assert (top2_bp, dup3_bp, keep) == (0, 0, 1)


def test_gopher_planted_degenerate_doc():
    """A pathological 'word word word ...' doc trips every signal."""
    text = " ".join(["spam"] * 40)
    n_words, n_distinct, rep_bp, top2_bp, dup3_bp, keep = _gopher_signals(
        text
    )
    assert n_distinct == 1
    assert rep_bp == 10000 * 39 // 40
    assert top2_bp > GR_TOP2_BP
    assert dup3_bp > GR_DUP3_BP
    assert keep == 0


# --------------------------------------------------------------------------
# q_bloom_dedup
# --------------------------------------------------------------------------


def _pk(text: str) -> str:
    return hashlib.md5(
        " ".join(text.split(" ")[:BLM_PREFIX]).encode()
    ).hexdigest()


def test_bloom_matches_pure_python_recompute(spark):
    docs = [(d, _pk(t), s) for d, t, s in [
        (d, t, None) for d, t, _ in _docs()
    ]]
    # recompute with source from parquet
    con = duckdb.connect()
    rows_src = con.execute(
        f"SELECT doc_id, text, source FROM '{SF_SMOKE}/documents.parquet'"
    ).fetchall()
    index_keys = {_pk(t) for d, t, _ in rows_src if d % 2 == 0}
    m_bits = BLM_BPK * len(index_keys)
    def positions(pk):
        return {
            int(hashlib.md5(f"blm{j}|{pk}".encode()).hexdigest()[:8], 16)
            % m_bits
            for j in range(BLM_K)
        }
    filt = set()
    for pk in index_keys:
        filt |= positions(pk)
    per_source = {}
    for d, t, s in rows_src:
        if d % 2 != 1:
            continue
        pk = _pk(t)
        maybe = positions(pk) <= filt
        member = pk in index_keys
        st = per_source.setdefault(s, [0, 0, 0, 0])
        st[0] += 1
        st[1] += int(maybe)
        st[2] += int(member)
        st[3] += int(maybe and not member)
    got = QUERIES["q_bloom_dedup"](spark, SF_SMOKE).collect()
    assert len(got) == len(per_source)
    for r in got:
        n_probes, n_maybe, n_true, n_fp = per_source[r["source"]]
        assert (r["n_probes"], r["n_maybe"], r["n_true"], r["n_fp"]) == (
            n_probes,
            n_maybe,
            n_true,
            n_fp,
        )
        assert r["fpr_bp"] == 10000 * n_fp // max(n_probes - n_true, 1)
        assert r["n_bits_set"] == len(filt)
        assert r["fill_bp"] == 10000 * len(filt) // m_bits


def test_bloom_no_false_negatives(spark):
    """The defining Bloom property: every TRUE member is filter-positive."""
    rows = QUERIES["q_bloom_dedup"](spark, SF_SMOKE).collect()
    for r in rows:
        # n_maybe counts all filter-positives; members are a subset
        assert r["n_maybe"] >= r["n_true"]
        assert r["n_fp"] == r["n_maybe"] - r["n_true"]


# --------------------------------------------------------------------------
# q_fold_split
# --------------------------------------------------------------------------


def test_fold_split_matches_pure_python_recompute(spark):
    con = duckdb.connect()
    rows_src = con.execute(
        f"SELECT doc_id, text, n_chars FROM '{SF_SMOKE}/documents.parquet'"
    ).fetchall()
    agg = {}
    clusters = {}
    for d, t, nch in rows_src:
        ck = hashlib.md5(t.encode()).hexdigest()
        f = int(
            hashlib.md5(f"fold|{ck}".encode()).hexdigest()[:8], 16
        ) % FOLD_N
        split = "train" if f < 8 else ("val" if f == 8 else "test")
        clusters.setdefault(ck, set()).add(split)
        st = agg.setdefault(split, [0, set(), 0])
        st[0] += 1
        st[1].add(ck)
        st[2] += nch
    total = sum(st[2] for st in agg.values())
    got = QUERIES["q_fold_split"](spark, SF_SMOKE).collect()
    assert len(got) == len(agg)
    for r in got:
        n_docs, cks, n_chars = agg[r["split"]]
        assert (r["n_docs"], r["n_clusters"], r["n_chars"]) == (
            n_docs,
            len(cks),
            n_chars,
        )
        assert r["share_bp"] == 10000 * n_chars // total
        assert r["spanning_docs"] == 0
    # the invariant the op exists for
    assert all(len(s) == 1 for s in clusters.values())


def test_fold_split_planted_duplicates_stay_together():
    """Two identical texts hash to the same cluster key, hence the same
    fold — by construction, not by luck."""
    t = "the same exact text"
    ck1 = hashlib.md5(t.encode()).hexdigest()
    ck2 = hashlib.md5(t.encode()).hexdigest()
    assert ck1 == ck2
    f1 = int(hashlib.md5(f"fold|{ck1}".encode()).hexdigest()[:8], 16) % FOLD_N
    f2 = int(hashlib.md5(f"fold|{ck2}".encode()).hexdigest()[:8], 16) % FOLD_N
    assert f1 == f2


# --------------------------------------------------------------------------
# q_vocab_diff
# --------------------------------------------------------------------------


def test_vocab_diff_matches_pure_python_recompute(spark):
    stats = {0: {}, 1: {}}
    for d, t, _ in _docs():
        ws = t.split(" ")
        ver = d % 2
        for i in range(len(ws) - 1):
            term = ws[i] + " " + ws[i + 1]
            df, tf, docs = stats[ver].setdefault(term, [0, 0, set()])
            stats[ver][term][1] += 1
            stats[ver][term][2].add(d)
    for ver in (0, 1):
        for term, st in stats[ver].items():
            st[0] = len(st[2])
    terms = set(stats[0]) | set(stats[1])
    joined = {}
    for term in terms:
        a = stats[0].get(term, [0, 0, set()])
        b = stats[1].get(term, [0, 0, set()])
        cls = (
            "new" if term not in stats[0]
            else ("dead" if term not in stats[1] else "shared")
        )
        joined[term] = (cls, a[0], a[1], b[0], b[1], b[1] - a[1])
    got = QUERIES["q_vocab_diff"](spark, SF_SMOKE).collect()
    census = {r["class"]: r for r in got if r["kind"] == "census"}
    for cls in census:
        rows = [v for v in joined.values() if v[0] == cls]
        assert census[cls]["df_v1"] == sum(v[1] for v in rows)
        assert census[cls]["tf_v1"] == sum(v[2] for v in rows)
        assert census[cls]["df_v2"] == sum(v[3] for v in rows)
        assert census[cls]["tf_v2"] == sum(v[4] for v in rows)
        assert census[cls]["delta_tf"] == sum(v[5] for v in rows)
    movers = [r for r in got if r["kind"] == "mover"]
    for r in movers:
        cls, df1, tf1, df2, tf2, delta = joined[r["term"]]
        assert cls == r["class"]
        assert (r["df_v1"], r["tf_v1"], r["df_v2"], r["tf_v2"]) == (
            df1, tf1, df2, tf2,
        )
        assert r["delta_tf"] == delta
        assert r["rnk"] <= VD_TOPK
    # mover ranking: within a class, rnk order follows (|delta| desc, term)
    by_cls = {}
    for r in movers:
        by_cls.setdefault(r["class"], []).append(r)
    for cls, rows in by_cls.items():
        rows.sort(key=lambda r: r["rnk"])
        keys = [(-abs(r["delta_tf"]), r["term"]) for r in rows]
        assert keys == sorted(keys)


# --------------------------------------------------------------------------
# q_zorder_prune
# --------------------------------------------------------------------------


def _interleave(x: int, y: int) -> int:
    z = 0
    for j in range(ZP_BITS):
        z |= ((x >> j) & 1) << (2 * j)
        z |= ((y >> j) & 1) << (2 * j + 1)
    return z


def test_zorder_prune_matches_pure_python_recompute(spark):
    con = duckdb.connect()
    pts = con.execute(
        f"SELECT l_orderkey, l_partkey FROM '{SF_SMOKE}/lineitem.parquet'"
    ).fetchall()
    min_x = min(p[0] for p in pts)
    max_x = max(p[0] for p in pts)
    min_y = min(p[1] for p in pts)
    max_y = max(p[1] for p in pts)
    files = {"zorder": {}, "rowmajor": {}}
    for ok, pk in pts:
        x = (ok - min_x) * (1 << ZP_BITS) // (max_x - min_x + 1)
        y = (pk - min_y) * (1 << ZP_BITS) // (max_y - min_y + 1)
        hit = int(ZP_LO <= x <= ZP_HI and ZP_LO <= y <= ZP_HI)
        for layout, fid in (
            ("zorder", _interleave(x, y) // ZP_FILE_SHIFT),
            ("rowmajor", (x * (1 << ZP_BITS) + y) // ZP_FILE_SHIFT),
        ):
            st = files[layout].setdefault(fid, [0, 0])
            st[0] += 1
            st[1] += hit
    got = {r["layout"]: r for r in
           QUERIES["q_zorder_prune"](spark, SF_SMOKE).collect()}
    for layout, perfile in files.items():
        touched = [st for st in perfile.values() if st[1] > 0]
        r = got[layout]
        assert r["files_total"] == len(perfile)
        assert r["files_touched"] == len(touched)
        assert r["rows_matched"] == sum(st[1] for st in perfile.values())
        assert r["touched_rows"] == sum(st[0] for st in touched)


def test_zorder_beats_rowmajor(spark):
    """The point of the layout: z-order touches fewer files and reads
    fewer non-matching rows for the 2-D predicate."""
    got = {r["layout"]: r for r in
           QUERIES["q_zorder_prune"](spark, SF_SMOKE).collect()}
    z, rm = got["zorder"], got["rowmajor"]
    assert z["rows_matched"] == rm["rows_matched"]  # same predicate
    assert z["files_touched"] < rm["files_touched"]
    assert z["read_amp_bp"] > rm["read_amp_bp"]


def test_interleave_known_values():
    assert _interleave(0, 0) == 0
    assert _interleave(1, 0) == 1
    assert _interleave(0, 1) == 2
    assert _interleave(255, 255) == (1 << 16) - 1
    # 32-aligned 64x64 block spans exactly 4 zorder files of 1024 cells
    fids = {
        _interleave(x, y) // ZP_FILE_SHIFT
        for x in (ZP_LO, ZP_HI)
        for y in (ZP_LO, ZP_HI)
    }
    assert len(fids) == 4


# --------------------------------------------------------------------------
# q_rank_eval
# --------------------------------------------------------------------------


def test_rank_eval_matches_numpy_recompute(spark):
    import numpy as np

    con = duckdb.connect()
    rows = con.execute(
        f"SELECT vec_id, embedding FROM '{SF_SMOKE}/embeddings.parquet'"
        f" ORDER BY vec_id"
    ).fetchall()
    ids = np.array([r[0] for r in rows])
    X = np.array([r[1] for r in rows], dtype=np.float64)
    FX = 1_000_000
    xi0 = np.round(X * FX)
    nrm = np.sqrt((xi0 * xi0).sum(axis=1))
    U = np.round(xi0 / nrm[:, None] * FX).astype(np.int64)
    mabs = np.abs(X).max(axis=1)
    scale = np.where(mabs == 0, 0.0, 127.0 / mabs)
    Q8 = np.floor(X * scale[:, None] + 0.5).astype(np.int64)
    got = {r["q_id"]: r for r in
           QUERIES["q_rank_eval"](spark, SF_SMOKE).collect()}
    assert set(got) == set(int(i) for i in ids if i < RE_NQ)
    for qi, q_id in enumerate(ids):
        if q_id >= RE_NQ:
            continue
        mask = ids != q_id
        cand = ids[mask]
        dot_fx = (U[mask] * U[qi]).sum(axis=1)
        dot8 = (Q8[mask] * Q8[qi]).sum(axis=1)
        t_order = sorted(range(len(cand)), key=lambda k: (-dot_fx[k], cand[k]))
        true_nn = cand[t_order[0]]
        s_order = sorted(range(len(cand)), key=lambda k: (-dot8[k], cand[k]))
        sys_rank = 1 + s_order.index(
            next(k for k in range(len(cand)) if cand[k] == true_nn)
        )
        r = got[int(q_id)]
        assert r["true_nn"] == true_nn
        assert r["dot_fx_true"] == dot_fx[t_order[0]]
        assert r["sys_rank"] == sys_rank
        assert r["rr_bp"] == 10000 // sys_rank
        assert r["top1_hit"] == int(sys_rank == 1)


# --------------------------------------------------------------------------
# q_rfm_features
# --------------------------------------------------------------------------


def test_rfm_matches_pure_python_recompute(spark):
    import math

    con = duckdb.connect()
    rows = con.execute(
        f"SELECT user_id, epoch_us(ts), value FROM"
        f" '{SF_SMOKE}/events.parquet'"
    ).fetchall()
    per = {}
    for u, us, v in rows:
        st = per.setdefault(u, [0, 0, 0])
        st[0] = max(st[0], us // 86_400_000_000)
        st[1] += 1
        st[2] += int(math.floor(v * 100 + 0.5))
    max_day = max(st[0] for st in per.values())
    feats = {
        u: (max_day - st[0], st[1], st[2]) for u, st in per.items()
    }

    def disc(vals, p):
        s = sorted(vals)
        import math as m

        return s[max(0, m.ceil(p * len(s)) - 1)]

    rd = [f[0] for f in feats.values()]
    fc = [f[1] for f in feats.values()]
    mc = [f[2] for f in feats.values()]
    got = {r["user_id"]: r for r in
           QUERIES["q_rfm_features"](spark, SF_SMOKE).collect()}
    assert set(got) == set(feats)
    for u, (r_days, f_cnt, m_cents) in feats.items():
        r = got[u]
        assert (r["r_days"], r["f_cnt"], r["m_cents"]) == (
            r_days, f_cnt, m_cents,
        )
        r_score = 5 - sum(r_days > disc(rd, p) for p in (0.2, 0.4, 0.6, 0.8))
        f_score = 1 + sum(f_cnt > disc(fc, p) for p in (0.2, 0.4, 0.6, 0.8))
        m_score = 1 + sum(m_cents > disc(mc, p) for p in (0.2, 0.4, 0.6, 0.8))
        assert (r["r_score"], r["f_score"], r["m_score"]) == (
            r_score, f_score, m_score,
        )
        assert r["segment"] == f"{r_score}{f_score}{m_score}"
        assert 1 <= r_score <= 5 and 1 <= f_score <= 5 and 1 <= m_score <= 5


def test_rfm_segments_spread(spark):
    """Quintile scoring must produce a spread, not one segment."""
    rows = QUERIES["q_rfm_features"](spark, SF_SMOKE).collect()
    assert len({r["segment"] for r in rows}) > 1


# --------------------------------------------------------------------------
# q_cc_incr
# --------------------------------------------------------------------------


def _cc_pure_python(edges):
    """Union-find over (a, b) pairs -> {node: min-node-id component}."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def test_cc_incr_matches_union_find(spark):
    """Maintained labels equal a third-implementation union-find over the
    SAME pair set (Spark seeded propagation vs DuckDB recursive CTE vs
    pure-Python union-find), and the changed flag matches the base-graph
    labeling."""
    from duckdb_ner_spark.operators.dedup import dedup_near_minhash
    from duckdb_ner_spark.sources.catalog import load_tables

    t = load_tables(spark, SF_SMOKE)
    pairs = [
        (r["doc_a"], r["doc_b"])
        for r in dedup_near_minhash(t.documents, threshold=0.6)
        .select("doc_a", "doc_b")
        .collect()
    ]
    full = _cc_pure_python(pairs)
    base = _cc_pure_python(
        [(a, b) for a, b in pairs if a % 2 == 0 and b % 2 == 0]
    )
    rows = QUERIES["q_cc_incr"](spark, SF_SMOKE).collect()
    assert {r["node"] for r in rows} == set(full)
    for r in rows:
        assert r["comp"] == full[r["node"]]
        assert r["is_new"] == r["node"] % 2
        expect_changed = int(
            r["node"] not in base or base[r["node"]] != r["comp"]
        )
        assert r["changed"] == expect_changed


def test_cc_seeded_propagation_planted_merge(spark):
    """Planted merge: two base components bridged by a delta edge converge
    to one label under seeded propagation."""
    from duckdb_ner_spark.operators.components import connected_components

    base_pairs = spark.createDataFrame(
        [(0, 2), (4, 6)], ["doc_a", "doc_b"]
    )
    old = connected_components(base_pairs)
    assert {(r["node"], r["comp"]) for r in old.collect()} == {
        (0, 0), (2, 0), (4, 4), (6, 4),
    }
    merged_pairs = spark.createDataFrame(
        [(0, 2), (4, 6), (2, 5), (5, 4)], ["doc_a", "doc_b"]
    )
    new = connected_components(merged_pairs, seed=old)
    assert {(r["node"], r["comp"]) for r in new.collect()} == {
        (0, 0), (2, 0), (4, 0), (5, 0), (6, 0),
    }


# --------------------------------------------------------------------------
# q_rand_response
# --------------------------------------------------------------------------


def test_rand_response_matches_pure_python_recompute(spark):
    from duckdb_ner_spark.operators.stats import RR_P_DEN, RR_P_NUM

    con = duckdb.connect()
    rows_src = con.execute(
        f"SELECT doc_id, source FROM '{SF_SMOKE}/documents.parquet'"
    ).fetchall()
    per = {}
    for d, s in rows_src:
        v = int(d % 3 == 0)
        coin = int(
            hashlib.md5(f"rr|{d}".encode()).hexdigest()[:8], 16
        ) % RR_P_DEN
        rep = v if coin < RR_P_NUM else 1 - v
        st = per.setdefault(s, [0, 0, 0])
        st[0] += 1
        st[1] += v
        st[2] += rep
    got = QUERIES["q_rand_response"](spark, SF_SMOKE).collect()
    assert len(got) == len(per)
    for r in got:
        n, n_true, n_rep = per[r["source"]]
        assert (r["n"], r["n_true"], r["n_reported"]) == (n, n_true, n_rep)
        # Spark DIV and DuckDB // both TRUNCATE toward zero (python //
        # floors) — the estimator numerator can go negative, so replay
        # with truncating division
        num = RR_P_DEN * n_rep - (RR_P_DEN - RR_P_NUM) * n
        den = 2 * RR_P_NUM - RR_P_DEN
        est = int(num / den) if num < 0 else num // den
        assert r["n_est"] == est
        assert r["err_bp"] == 10000 * abs(est - n_true) // max(n_true, 1)


def test_rand_response_estimator_unbiased_at_scale():
    """Mechanism math at production n (pure Python, same formulas): with a
    rare attribute (5%) and n = 10^5, the debiased estimator lands within
    1% of truth while the raw report is ~21pp off — the utility claim the
    per-source testdata census can't show (at n = 25 with truth near the
    RR fixed point n/2, estimator variance exceeds the raw bias, which is
    why the query emits BOTH est and raw for the analyst to weigh)."""
    from duckdb_ner_spark.operators.stats import RR_P_DEN, RR_P_NUM

    n, n_true = 100_000, 5_000
    n_rep = 0
    for d in range(n):
        v = int(d < n_true)
        coin = int(
            hashlib.md5(f"rr|{d}".encode()).hexdigest()[:8], 16
        ) % RR_P_DEN
        n_rep += v if coin < RR_P_NUM else 1 - v
    num = RR_P_DEN * n_rep - (RR_P_DEN - RR_P_NUM) * n
    den = 2 * RR_P_NUM - RR_P_DEN
    est = int(num / den) if num < 0 else num // den
    assert abs(est - n_true) < 0.01 * n  # within 1% of corpus size
    assert abs(n_rep - n_true) > 0.15 * n  # raw report is badly biased


# --------------------------------------------------------------------------
# q_stream_bloom
# --------------------------------------------------------------------------


def test_stream_bloom_equals_batch(spark):
    """Stream==batch parity for the whole admission census — the streamed
    result is row-identical to q_bloom_dedup."""
    batch = {
        r["source"]: r.asDict()
        for r in QUERIES["q_bloom_dedup"](spark, SF_SMOKE).collect()
    }
    stream = {
        r["source"]: r.asDict()
        for r in QUERIES["q_stream_bloom"](spark, SF_SMOKE).collect()
    }
    assert stream == batch


# --------------------------------------------------------------------------
# q_simhash_sweep
# --------------------------------------------------------------------------


def _simhash60(text: str) -> int:
    votes = [0] * 60
    for w in text.split(" "):
        hx = hashlib.md5(w.encode()).hexdigest()
        for b in range(60):
            bit = (int(hx[b // 4], 16) >> (3 - b % 4)) & 1
            votes[b] += 1 if bit else -1
    sig = 0
    for b in range(60):
        if votes[b] > 0:
            sig |= 1 << (59 - b)
    return sig


def test_simhash_sweep_pigeonhole_completeness(spark):
    """The zero-false-negative theorem behind the block decomposition,
    checked O(n^2): every pair within Hamming distance r shares at least
    one of the r+1 blocks — so n_emit equals the TRUE count of
    bucket-reachable pairs at each radius (no pair is lost to bucketing,
    only to the explicit cap)."""
    from duckdb_ner_spark.operators.dedup import SHS_RADII, _shs_cfg

    sigs = {d: _simhash60(t) for d, t, _ in _docs()}
    ids = sorted(sigs)
    got = {r["radius"]: r for r in
           QUERIES["q_simhash_sweep"](spark, SF_SMOKE).collect()}
    for r in SHS_RADII:
        nb, bits = _shs_cfg(r)
        mask = (1 << bits) - 1
        true_within = 0
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                ham = bin(sigs[a] ^ sigs[b]).count("1")
                if ham <= r:
                    true_within += 1
                    # pigeonhole: the pair must share a block
                    assert any(
                        (sigs[a] >> (k * bits)) & mask
                        == (sigs[b] >> (k * bits)) & mask
                        for k in range(nb)
                    )
        assert got[r]["n_emit"] == true_within
        assert got[r]["n_blocks"] == nb and got[r]["block_bits"] == bits


def test_simhash_sweep_curve_monotone(spark):
    """Wider radius => more candidates and at-least-as-much semantic
    recall; bucket yield collapses as blocks shorten — the trade the
    table exists to show."""
    rows = sorted(
        QUERIES["q_simhash_sweep"](spark, SF_SMOKE).collect(),
        key=lambda r: r["radius"],
    )
    for a, b in zip(rows, rows[1:]):
        assert b["n_cand"] >= a["n_cand"]
        assert b["n_emit"] >= a["n_emit"]
        assert b["n_sem_hit"] >= a["n_sem_hit"]
    assert rows[0]["bucket_yield_bp"] >= rows[-1]["bucket_yield_bp"]
    assert len({r["n_true"] for r in rows}) == 1


# --------------------------------------------------------------------------
# q_maxsim_topk
# --------------------------------------------------------------------------


def test_maxsim_matches_numpy_recompute(spark):
    import numpy as np

    from duckdb_ner_spark.operators.retrieval import MS_K, MS_NQ, MS_SUB, MS_SUBDIM

    con = duckdb.connect()
    rows = con.execute(
        f"SELECT vec_id, embedding FROM '{SF_SMOKE}/embeddings.parquet'"
        f" ORDER BY vec_id"
    ).fetchall()
    ids = [r[0] for r in rows]
    X = np.array([r[1] for r in rows], dtype=np.float64)
    FX = 1_000_000
    U = {}
    for k, vid in enumerate(ids):
        subs = []
        for s in range(MS_SUB):
            x = X[k, s * MS_SUBDIM : (s + 1) * MS_SUBDIM]
            xi0 = np.round(x * FX)
            nrm = np.sqrt((xi0 * xi0).sum())
            subs.append(
                np.zeros(MS_SUBDIM, dtype=np.int64)
                if nrm == 0
                else np.round(xi0 / nrm * FX).astype(np.int64)
            )
        U[vid] = subs
    got = {}
    for r in QUERIES["q_maxsim_topk"](spark, SF_SMOKE).collect():
        got.setdefault(r["q_id"], []).append(r)
    assert set(got) == set(i for i in ids if i < MS_NQ)
    for q_id, rows_q in got.items():
        scores = {}
        for c in ids:
            if c == q_id:
                continue
            scores[c] = sum(
                max(int((qu * cu).sum()) for cu in U[c]) for qu in U[q_id]
            )
        expect = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:MS_K]
        rows_q.sort(key=lambda r: r["rank"])
        assert [(r["vec_id"], r["maxsim_fx"]) for r in rows_q] == expect


def test_maxsim_dominates_single_subvector(spark):
    """Sum-of-max over MS_SUB sub-vectors >= any single sub-vector's dot:
    the late-interaction score is an upper envelope by construction."""
    from duckdb_ner_spark.operators.retrieval import MS_SUB

    rows = QUERIES["q_maxsim_topk"](spark, SF_SMOKE).collect()
    # unit-fx dots are bounded by FX^2 per sub-vector pair
    for r in rows:
        assert r["maxsim_fx"] <= MS_SUB * 1_000_000 ** 2 * 1.01


# --------------------------------------------------------------------------
# q_topk_bounds
# --------------------------------------------------------------------------


def _tkb_bounds(shard_counts, m, k):
    """Pure-Python replay of the TA bound/certificate math.
    shard_counts: {shard: {item: count}} -> {item: (lb, ub, guaranteed)}."""
    rep = {}
    thr = {}
    for s, cnts in shard_counts.items():
        top = sorted(cnts.items(), key=lambda kv: (-kv[1], kv[0]))[:m]
        rep[s] = dict(top)
        thr[s] = top[-1][1] if len(cnts) > m else 0
    cand = {w for r in rep.values() for w in r}
    total_thr = sum(thr.values())
    out = {}
    for w in cand:
        lb = sum(r.get(w, 0) for r in rep.values())
        ub = lb + sum(t for s, t in thr.items() if w not in rep[s])
        out[w] = [lb, ub]
    for w in cand:
        above = sum(
            1 for o in cand if o != w and out[o][1] > out[w][0]
        )
        # a word reported by NO shard can have true count up to
        # total_thr, so lb must also clear that unseen-word bound
        out[w].append(int(above < k and out[w][0] >= total_thr))
    return {w: tuple(v) for w, v in out.items()}


def test_topk_bounds_matches_pure_python_recompute(spark):
    from duckdb_ner_spark.operators.retrieval import TKB_K, TKB_M

    shard_counts = {}
    truth = Counter()
    con = duckdb.connect()
    for s, t in con.execute(
        f"SELECT source, text FROM '{SF_SMOKE}/documents.parquet'"
    ).fetchall():
        cnts = shard_counts.setdefault(s, Counter())
        for w in t.split(" "):
            cnts[w] += 1
            truth[w] += 1
    expect = _tkb_bounds(shard_counts, TKB_M, TKB_K)
    true_topk = {
        w for w, _ in sorted(
            truth.items(), key=lambda kv: (-kv[1], kv[0])
        )[:TKB_K]
    }
    rows = QUERIES["q_topk_bounds"](spark, SF_SMOKE).collect()
    assert {r["word"] for r in rows} == set(expect)
    for r in rows:
        lb, ub, guar = expect[r["word"]]
        assert (r["lb"], r["ub"], r["guaranteed"]) == (lb, ub, guar)
        assert r["exact_cnt"] == truth[r["word"]]
        assert r["bound_holds"] == 1  # the TA bound theorem, verified
        assert r["in_true_topk"] == int(r["word"] in true_topk)
    # candidate completeness: every true top-k word was proposed
    assert true_topk <= {r["word"] for r in rows}


def test_topk_bounds_certificates_close_on_skewed_shards():
    """The certificate logic the uniform corpus can't exhibit: on a
    planted Zipf-skewed shard set, the head items' certificates CLOSE
    (guaranteed=1) while tail candidates stay open — the early-termination
    decision the threshold algorithm exists for."""
    shard_counts = {
        s: {f"w{i}": 10_000 // (i + 1) + (s * 7) % 5 for i in range(40)}
        for s in range(4)
    }
    out = _tkb_bounds(shard_counts, m=10, k=3)
    # head items close
    assert out["w0"][2] == 1 and out["w1"][2] == 1 and out["w2"][2] == 1
    # bounds: lb <= truth <= ub for every candidate
    for w, (lb, ub, _) in out.items():
        t = sum(c[w] for c in shard_counts.values())
        assert lb <= t <= ub


def test_topk_bounds_unseen_word_keeps_certificate_open():
    """ADVICE r12 regression: a word reported by NO shard ('sleeper',
    count 9 in each of 3 shards, total 27) can outrank every candidate
    (lb = 10 each). The pre-fix certificate counted only other CANDIDATES
    with ub > lb and would falsely close (n_possibly_above = 2 < k = 3);
    the sound rule also requires lb >= total_thr (= 30 here)."""
    shard_counts = {s: {f"top{s}": 10, "sleeper": 9} for s in range(3)}
    out = _tkb_bounds(shard_counts, m=1, k=3)
    assert set(out) == {"top0", "top1", "top2"}  # sleeper never reported
    assert all(g == 0 for (_, _, g) in out.values())


# --------------------------------------------------------------------------
# q_batch_padding
# --------------------------------------------------------------------------


def test_batch_padding_matches_pure_python_recompute(spark):
    from duckdb_ner_spark.operators.trainprep import BP_BATCH, BP_BUCKET, BP_SHARD

    lens = {d: len(t.split(" ")) for d, t, _ in _docs()}

    def assemble(order, keyfn=None):
        groups = {}
        for d in order:
            groups.setdefault(keyfn(d) if keyfn else 0, []).append(d)
        n_batches = real = padded = 0
        for g, ds in groups.items():
            for i in range(0, len(ds), BP_BATCH):
                batch = ds[i : i + BP_BATCH]
                n_batches += 1
                real += sum(lens[d] for d in batch)
                padded += len(batch) * max(lens[d] for d in batch)
        return n_batches, real, padded

    # arrival batching is per BP_SHARD-doc shard (VERDICT r12 #2: no
    # corpus-global window), so the replay shards the arrival stream too
    arrival = assemble(sorted(lens), keyfn=lambda d: d // BP_SHARD)
    bucketed = assemble(
        sorted(lens, key=lambda d: (lens[d] // BP_BUCKET, lens[d], d)),
        keyfn=lambda d: lens[d] // BP_BUCKET,
    )
    got = {r["strategy"]: r for r in
           QUERIES["q_batch_padding"](spark, SF_SMOKE).collect()}
    for name, (nb, real, padded) in (
        ("arrival", arrival), ("bucketed", bucketed),
    ):
        r = got[name]
        assert (r["n_batches"], r["real_tokens"], r["padded_tokens"]) == (
            nb, real, padded,
        )
        assert r["waste_bp"] == 10000 * (padded - real) // padded
        assert r["n_seqs"] == len(lens)


def test_batch_padding_bucketing_wins(spark):
    """The point of the op: bucketing strictly reduces padding waste on
    any length-diverse corpus."""
    got = {r["strategy"]: r for r in
           QUERIES["q_batch_padding"](spark, SF_SMOKE).collect()}
    assert got["bucketed"]["waste_bp"] < got["arrival"]["waste_bp"]
    # identical real work under both strategies
    assert got["bucketed"]["real_tokens"] == got["arrival"]["real_tokens"]


# --------------------------------------------------------------------------
# q_quant_sweep
# --------------------------------------------------------------------------


def test_quant_sweep_matches_numpy_recompute(spark):
    import numpy as np

    from duckdb_ner_spark.operators.retrieval import QS_BITS, RE_NQ

    con = duckdb.connect()
    rows = con.execute(
        f"SELECT vec_id, embedding FROM '{SF_SMOKE}/embeddings.parquet'"
        f" ORDER BY vec_id"
    ).fetchall()
    ids = np.array([r[0] for r in rows])
    X = np.array([r[1] for r in rows], dtype=np.float64)
    FX = 1_000_000
    xi0 = np.round(X * FX)
    nrm = np.sqrt((xi0 * xi0).sum(axis=1))
    U = np.round(xi0 / nrm[:, None] * FX).astype(np.int64)
    mabs = np.abs(X).max(axis=1)
    got = {r["bits"]: r for r in
           QUERIES["q_quant_sweep"](spark, SF_SMOKE).collect()}
    for b in QS_BITS:
        lv = (1 << (b - 1)) - 1
        scale = np.where(mabs == 0, 0.0, lv / mabs)
        Q = np.floor(X * scale[:, None] + 0.5).astype(np.int64)
        ranks = []
        for qi, q_id in enumerate(ids):
            if q_id >= RE_NQ:
                continue
            mask = ids != q_id
            cand = ids[mask]
            dfx = (U[mask] * U[qi]).sum(axis=1)
            dq = (Q[mask] * Q[qi]).sum(axis=1)
            t = sorted(range(len(cand)), key=lambda k: (-dfx[k], cand[k]))
            true_nn = cand[t[0]]
            so = sorted(range(len(cand)), key=lambda k: (-dq[k], cand[k]))
            ranks.append(
                1 + so.index(next(k for k in range(len(cand))
                                  if cand[k] == true_nn))
            )
        r = got[b]
        assert r["n_queries"] == len(ranks)
        assert r["top1_hits"] == sum(1 for x in ranks if x == 1)
        assert r["mean_rr_bp"] == sum(10000 // x for x in ranks) // len(ranks)
        assert r["worst_rank"] == max(ranks)


def test_quant_sweep_monotone_in_bits(spark):
    """More bits never rank the true NN worse in aggregate."""
    rows = sorted(
        QUERIES["q_quant_sweep"](spark, SF_SMOKE).collect(),
        key=lambda r: r["bits"],
    )
    for a, b in zip(rows, rows[1:]):
        assert b["mean_rr_bp"] >= a["mean_rr_bp"]
        assert b["top1_hits"] >= a["top1_hits"]
