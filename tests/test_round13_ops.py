"""Round-13 operator tests: compressed-MaxSim two-stage retrieval,
naive-Bayes language ID, and the linear quality classifier.

Each query is hash-verified against its DuckDB oracle by the driver; these
tests pin the SEMANTICS with planted fixtures and independent pure-Python /
NumPy recomputes on shipped testdata (the house test model, SURVEY §5).
The planted fixtures matter doubly here: the synthetic corpus's lang and
quality labels carry little token signal (the regime notes in the q_langid
and q_quality_score docstrings, textstats.py), so the classifiers' LEARNING
behavior is pinned on fixtures where signal exists, while the corpus tests
pin the exact integer arithmetic.
"""

import hashlib
from collections import Counter

import duckdb
import numpy as np

import duckdb_ner_spark.operators  # noqa: F401 — populate the registry
from duckdb_ner_spark.operators.retrieval import MR_K, MR_LEVELS, MR_M, MR_NQ, MR_SUBDIM
from duckdb_ner_spark.operators.textstats import QSC_FX, QSC_NB
from duckdb_ner_spark.operators.textstats import (
    GATE_DISTINCT_DEN,
    GATE_DISTINCT_NUM,
    GATE_HIGH_BITS,
    GATE_LOW_BITS,
    GATE_MIN_WORDS,
)
from duckdb_ner_spark.plans.registry import QUERIES

SF_SMOKE = "/root/testdata/sf0.001"

FX = 1_000_000


def _docs():
    con = duckdb.connect()
    return con.execute(
        f"SELECT doc_id, lang, source, text FROM"
        f" '{SF_SMOKE}/documents.parquet'"
    ).fetchall()


def _bl(x: int) -> int:
    """floor(log2 x) for x >= 1 — the LENGTH(bin(x)) - 1 idiom."""
    return x.bit_length() - 1


# --------------------------------------------------------------------------
# q_maxsim_rerank
# --------------------------------------------------------------------------


def _slice_units():
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT vec_id, embedding FROM '{SF_SMOKE}/embeddings.parquet'"
        f" ORDER BY vec_id"
    ).fetchall()
    ids = [r[0] for r in rows]
    X = np.array([r[1] for r in rows], dtype=np.float64)
    n, d = X.shape
    xi0 = np.round(X * FX)
    nsub = d // MR_SUBDIM
    slc = xi0.reshape(n, nsub, MR_SUBDIM)
    snrm = np.sqrt((slc * slc).sum(axis=2))
    su = np.where(
        snrm[:, :, None] == 0,
        0.0,
        np.round(slc / np.maximum(snrm[:, :, None], 1e-300) * FX),
    ).astype(np.int64)
    return ids, su


def _maxsim_scores(su, qi):
    """per-candidate exact MaxSim score of query qi: sum over query
    slices of the max dot against any candidate slice."""
    d = np.einsum("qd,ncd->nqc", su[qi], su)
    return d.max(axis=2).sum(axis=1)


def test_maxsim_rerank_matches_numpy_recompute(spark):
    ids, su = _slice_units()
    assert ids == list(range(len(ids)))
    mabs = np.abs(su).max(axis=2)
    scale = np.where(mabs == 0, 0.0, MR_LEVELS / np.maximum(mabs, 1e-300))
    q8 = np.floor(su * scale[:, :, None] + 0.5).astype(np.int64)
    n = len(ids)
    expect = {}
    for q in range(MR_NQ):
        c8 = np.einsum("qd,ncd->nqc", q8[q], q8)
        s1 = c8.max(axis=2).sum(axis=1)
        order = sorted(
            (c for c in range(n) if c != q), key=lambda c: (-s1[c], c)
        )
        short = order[:MR_M]
        ms = _maxsim_scores(su, q)
        rerank = sorted(short, key=lambda c: (-ms[c], c))[:MR_K]
        exact = sorted(
            (c for c in range(n) if c != q), key=lambda c: (-ms[c], c)
        )[:MR_K]
        recall_bp = 10000 * len(set(rerank) & set(exact)) // MR_K
        for rank, c in enumerate(rerank, start=1):
            expect[(q, rank)] = (c, int(ms[c]), int(s1[c]), recall_bp)
    rows = QUERIES["q_maxsim_rerank"](spark, SF_SMOKE).collect()
    assert len(rows) == MR_NQ * MR_K
    for r in rows:
        c, ms_fx, q8sim, rec = expect[(r["q_id"], r["rank"])]
        assert (r["vec_id"], r["maxsim_fx"], r["q8sim"], r["recall_bp"]) == (
            c,
            ms_fx,
            q8sim,
            rec,
        ), (r["q_id"], r["rank"])


def test_maxsim_rerank_recall_is_usable(spark):
    """The point of the int8 stage 1 (the 1-bit variant measured 0.0-0.4
    and was rejected — see the docstring): the composed path must recover
    most of the exact MaxSim top-k on the shipped corpus."""
    rows = QUERIES["q_maxsim_rerank"](spark, SF_SMOKE).collect()
    per_q = {r["q_id"]: r["recall_bp"] for r in rows}
    assert len(per_q) == MR_NQ
    assert sum(per_q.values()) / MR_NQ >= 6000  # avg recall >= 0.6
    assert min(per_q.values()) >= 2000


# --------------------------------------------------------------------------
# q_langid
# --------------------------------------------------------------------------


def _langid_predict(train, test_tokens):
    """Pure-Python replay of the quantized-NB scorer.
    train: [(lang, tokens)] -> per-language weights; test_tokens: [tokens]
    -> predicted lang per test doc."""
    lc = {}
    tl = Counter()
    vocab = set()
    for lang, toks in train:
        c = lc.setdefault(lang, Counter())
        c.update(toks)
        tl[lang] += len(toks)
        vocab.update(toks)
    v = len(vocab)
    preds = []
    for toks in test_tokens:
        best = min(
            sorted(lc),
            key=lambda L: (
                sum(_bl((tl[L] + v) // (lc[L].get(w, 0) + 1)) for w in toks),
                L,
            ),
        )
        preds.append(best)
    return preds


def test_langid_matches_pure_python_recompute(spark):
    docs = _docs()
    train = [(l, t.split(" ")) for d, l, _, t in docs if d % 2 == 0]
    test = [(d, l, t.split(" ")) for d, l, _, t in docs if d % 2 == 1]
    preds = _langid_predict(train, [toks for _, _, toks in test])
    conf = Counter()
    for (d, l, _), p in zip(test, preds):
        conf[(l, p)] += 1
    lang_docs = Counter()
    n_correct = Counter()
    for (l, p), n in conf.items():
        lang_docs[l] += n
        if l == p:
            n_correct[l] += n
    rows = QUERIES["q_langid"](spark, SF_SMOKE).collect()
    assert {(r["lang"], r["pred"]): r["n_docs"] for r in rows} == dict(conf)
    for r in rows:
        assert r["lang_docs"] == lang_docs[r["lang"]]
        assert r["n_correct"] == n_correct[r["lang"]]
        assert (
            r["agree_bp"]
            == 10000 * n_correct[r["lang"]] // lang_docs[r["lang"]]
        )


def test_langid_separates_planted_languages():
    """The classifier the corpus can't exhibit (its lang labels are text-
    independent — the regime note): on languages with genuinely different
    word distributions, the quantized-NB argmin identifies every held-out
    doc."""
    lang_words = {
        "aa": ["der", "die", "das", "und", "ist"],
        "bb": ["the", "a", "of", "and", "is"],
        "cc": ["le", "la", "et", "un", "est"],
    }
    train = []
    for lang, ws in lang_words.items():
        for i in range(10):
            train.append((lang, [ws[(i + j) % 5] for j in range(30)]))
    test_docs = [
        ("aa", ["der", "und", "das"] * 8),
        ("bb", ["the", "of", "is"] * 8),
        ("cc", ["le", "et", "la"] * 8),
        # mixed doc: majority-bb tokens win
        ("bb", ["the", "of", "der", "the", "is", "the"] * 4),
    ]
    preds = _langid_predict(train, [toks for _, toks in test_docs])
    assert preds == [lang for lang, _ in test_docs]


def test_langid_unseen_word_weight_exceeds_seen():
    """The smoothing contract: an unseen word must cost at least as much
    as any seen word in the same language model."""
    train = [("aa", ["x"] * 100 + ["y"] * 3)]
    lc = Counter(train[0][1])
    t, v = 103, 2
    seen = [_bl((t + v) // (lc[w] + 1)) for w in lc]
    unseen = _bl(t + v)
    assert unseen >= max(seen)
    assert _bl((t + v) // (lc["x"] + 1)) < _bl((t + v) // (lc["y"] + 1))


# --------------------------------------------------------------------------
# q_quality_score
# --------------------------------------------------------------------------


def _bucket(w: str) -> int:
    return (
        int(hashlib.md5(("qsc|" + w).encode()).hexdigest()[:8], 16) % QSC_NB
    )


def _gate_keep(docs):
    """The q_quality_gate verdict replay (whole-corpus frequency table)."""
    freq = Counter()
    for _, _, _, t in docs:
        freq.update(t.split(" "))
    total = sum(freq.values())
    keep = {}
    for d, _, _, t in docs:
        ws = t.split(" ")
        nw, nd = len(ws), len(set(ws))
        sq = sum(_bl(total // freq[w]) for w in ws)
        keep[d] = int(
            nw >= GATE_MIN_WORDS
            and nd * GATE_DISTINCT_DEN >= GATE_DISTINCT_NUM * nw
            and GATE_LOW_BITS * nw <= sq <= GATE_HIGH_BITS * nw
        )
    return keep


def _qsc_weights(train_tokens):
    """train_tokens: [(keep, tokens)] -> {bucket: weight} (Rocchio rates)."""
    ck, cd = Counter(), Counter()
    for keep, toks in train_tokens:
        tgt = ck if keep else cd
        for w in toks:
            tgt[_bucket(w)] += 1
    tk = max(sum(ck.values()), 1)
    td = max(sum(cd.values()), 1)
    return {
        b: (QSC_FX * ck[b]) // tk - (QSC_FX * cd[b]) // td
        for b in set(ck) | set(cd)
    }


def test_quality_score_matches_pure_python_recompute(spark):
    docs = _docs()
    keep = _gate_keep(docs)
    wgt = _qsc_weights(
        [(keep[d], t.split(" ")) for d, _, _, t in docs if d % 2 == 0]
    )
    per_src = {}
    for d, _, src, t in docs:
        if d % 2 == 0:
            continue
        score = sum(wgt.get(_bucket(w), 0) for w in t.split(" "))
        pred = int(score >= 0)
        st = per_src.setdefault(src, [0, 0, 0, 0, 0])
        st[0] += 1
        st[1] += keep[d]
        st[2] += pred
        st[3] += int(pred == keep[d])
        st[4] += score
    rows = QUERIES["q_quality_score"](spark, SF_SMOKE).collect()
    assert {r["source"] for r in rows} == set(per_src)
    for r in rows:
        n, nl, np_, na, ss = per_src[r["source"]]
        assert (
            r["n_docs"],
            r["n_label_keep"],
            r["n_pred_keep"],
            r["n_agree"],
            r["sum_score"],
        ) == (n, nl, np_, na, ss), r["source"]
        assert r["agree_bp"] == 10000 * na // n


def test_quality_score_learns_token_separable_labels():
    """The machinery the corpus can't exhibit (the gate label is shape-
    based — the regime note): when keep/drop IS determined by token
    choice, the trained weights classify held-out docs perfectly."""
    good = ["insight", "rigor", "clarity", "depth"]
    bad = ["spamword", "clickbait", "filler", "noise"]
    train = []
    for i in range(20):
        train.append((1, [good[(i + j) % 4] for j in range(25)]))
        train.append((0, [bad[(i + j) % 4] for j in range(25)]))
    wgt = _qsc_weights(train)
    held_out = [
        (1, [good[j % 4] for j in range(40)]),
        (0, [bad[j % 4] for j in range(40)]),
        # mixed doc, majority good
        (1, (good * 3 + bad)[:32]),
    ]
    for label, toks in held_out:
        score = sum(wgt.get(_bucket(w), 0) for w in toks)
        assert int(score >= 0) == label, (label, score)


def test_quality_score_weights_are_zero_sum_scaled():
    """Rate-difference weights: each class's rates sum to ~QSC_FX (floor
    losses only), so the weight vector sums to ~0 — the property that
    makes the score length-scale-invariant around the 0 threshold."""
    train = [
        (1, ["alpha", "beta", "gamma"] * 10),
        (0, ["delta", "epsilon"] * 15),
    ]
    wgt = _qsc_weights(train)
    assert abs(sum(wgt.values())) <= 2 * QSC_NB  # floor losses only


# --------------------------------------------------------------------------
# q_maxsim_sweep
# --------------------------------------------------------------------------


def test_maxsim_sweep_matches_literal_two_stage_replay(spark):
    """Runs the LITERAL two-stage path per m (shortlist by int8 MaxSim,
    re-rank shortlist by exact MaxSim, take top-k, intersect with exact
    top-k) and asserts the query's recall identity census matches."""
    from duckdb_ner_spark.operators.retrieval import MSW_K, MSW_MS

    ids, su = _slice_units()
    n = len(ids)
    mabs = np.abs(su).max(axis=2)
    scale = np.where(mabs == 0, 0.0, MR_LEVELS / np.maximum(mabs, 1e-300))
    q8 = np.floor(su * scale[:, :, None] + 0.5).astype(np.int64)
    per_m = {m: [] for m in MSW_MS}
    for q in range(MR_NQ):
        c8 = np.einsum("qd,ncd->nqc", q8[q], q8)
        s1 = c8.max(axis=2).sum(axis=1)
        ms_scores = _maxsim_scores(su, q)
        cands = [c for c in range(n) if c != q]
        s1order = sorted(cands, key=lambda c: (-s1[c], c))
        exact = set(sorted(cands, key=lambda c: (-ms_scores[c], c))[:MSW_K])
        for m in MSW_MS:
            short = s1order[:m]
            reranked = sorted(short, key=lambda c: (-ms_scores[c], c))[:MSW_K]
            per_m[m].append(len(set(reranked) & exact))
    rows = {r["m"]: r for r in QUERIES["q_maxsim_sweep"](spark, SF_SMOKE).collect()}
    assert set(rows) == set(MSW_MS)
    for m in MSW_MS:
        hits = per_m[m]
        assert rows[m]["n_queries"] == MR_NQ
        assert rows[m]["mean_recall_bp"] == 10000 * sum(hits) // (
            MSW_K * MR_NQ
        )
        assert rows[m]["min_recall_bp"] == 10000 * min(hits) // MSW_K


def test_maxsim_sweep_curve_is_monotone(spark):
    """More shortlist can never lose a true top-k member: mean recall is
    non-decreasing in m (the operating curve's defining property)."""
    rows = sorted(
        QUERIES["q_maxsim_sweep"](spark, SF_SMOKE).collect(),
        key=lambda r: r["m"],
    )
    means = [r["mean_recall_bp"] for r in rows]
    assert means == sorted(means)
    mins = [r["min_recall_bp"] for r in rows]
    assert mins == sorted(mins)


# --------------------------------------------------------------------------
# q_ndcg_eval
# --------------------------------------------------------------------------


def test_ndcg_matches_numpy_recompute(spark):
    from duckdb_ner_spark.operators.retrieval import NDCG_IDCG, NDCG_K, NDCG_NQ

    con = duckdb.connect()
    rows_e = con.execute(
        f"SELECT vec_id, embedding FROM '{SF_SMOKE}/embeddings.parquet'"
        f" ORDER BY vec_id"
    ).fetchall()
    X = np.array([r[1] for r in rows_e], dtype=np.float64)
    n = len(rows_e)
    xi0 = np.round(X * FX)
    nrm = np.sqrt((xi0 * xi0).sum(axis=1))
    U = np.round(xi0 / nrm[:, None] * FX).astype(np.int64)
    mabs = np.abs(X).max(axis=1)
    Q8 = np.floor(
        X * np.where(mabs == 0, 0.0, 127.0 / np.maximum(mabs, 1e-300))[:, None]
        + 0.5
    ).astype(np.int64)
    expect = {}
    for q in range(NDCG_NQ):
        cands = [c for c in range(n) if c != q]
        exact = sorted(cands, key=lambda c: (-(U[c] @ U[q]), c))
        rel = {c: NDCG_K - i for i, c in enumerate(exact[:NDCG_K])}
        sys_order = sorted(cands, key=lambda c: (-(Q8[c] @ Q8[q]), c))
        dcg = sum(
            rel.get(c, 0) * (10000 // ((i + 2).bit_length() - 1))
            for i, c in enumerate(sys_order[:NDCG_K])
        )
        overlap = len(set(sys_order[:NDCG_K]) & set(rel))
        expect[q] = (dcg, 10000 * dcg // NDCG_IDCG, overlap)
    rows = QUERIES["q_ndcg_eval"](spark, SF_SMOKE).collect()
    assert len(rows) == NDCG_NQ
    for r in rows:
        dcg, bp, ov = expect[r["q_id"]]
        assert (r["dcg_fx"], r["ndcg_bp"], r["overlap"]) == (dcg, bp, ov)
        assert r["idcg_fx"] == NDCG_IDCG


def test_ndcg_perfect_system_scores_10000():
    """The normalization contract: a system that reproduces the exact
    ranking exactly earns DCG == IDCG (ndcg_bp == 10000), and any
    permutation of the head can only lose."""
    from duckdb_ner_spark.operators.retrieval import NDCG_IDCG, NDCG_K

    W = [10000 // ((i + 1).bit_length() - 1) for i in range(1, NDCG_K + 1)]
    perfect = sum((NDCG_K - i) * W[i] for i in range(NDCG_K))
    assert perfect == NDCG_IDCG
    # reversed head: strictly worse
    reversed_dcg = sum((i + 1) * W[i] for i in range(NDCG_K))
    assert reversed_dcg < NDCG_IDCG


# --------------------------------------------------------------------------
# q_stream_langid
# --------------------------------------------------------------------------


def test_stream_langid_equals_batch(spark):
    """Stream==batch parity for the whole inference decision — the
    streamed confusion/agreement census is row-identical to q_langid
    (same broadcast model, same quantized-NB scoring, the per-(doc, lang)
    score accumulated across micro-batches instead of in one aggregate)."""
    batch = {
        (r["lang"], r["pred"]): r.asDict()
        for r in QUERIES["q_langid"](spark, SF_SMOKE).collect()
    }
    stream = {
        (r["lang"], r["pred"]): r.asDict()
        for r in QUERIES["q_stream_langid"](spark, SF_SMOKE).collect()
    }
    assert stream == batch
